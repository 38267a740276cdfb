"""The full QC pipeline plan — the engine's equivalent of the
reference's EP1/EP2 lifecycle (run_pipeline -> process_variable,
scripts/ufz_water_qc_pipeline.py:666-772) over the long readings
table.

Where the reference loops over variables in pandas, this plan sends
each whole (station, variable) series to one Python worker, once:
:func:`series_pass` runs the per-series kernel
(``operators/series_qc.series_table``: clean stage, fallback flag
suite, SentemQC, event detectors, seasonal summary, meta) through one
``groupBy(station, variable).applyInArrow``. The kernel is numpy over
a sorted series, so the chain costs no Spark window pass, no plan of
a few hundred expressions to build, and no per-stage codegen.

The pass returns each series as ONE row: its long rows, events and
seasons as list columns, and its meta as plain columns. The plan is
lazy except for one pin (operators/pinning.py) of that frame, and
every output is a projection of the pin, so the kernel runs once
however many sinks and figures read it, and the events, seasonal and
meta tables need no join, window or shuffle. A series must fit in one
JVM row, under 2 GB: about 19M points with SentemQC on, 24M without,
12.7M if every point is flagged by all five SentemQC passes (the
measurement is in ``operators/series_qc.py``).

Outputs mirror the reference's artifacts:
- wide QC timeseries parquet: ``{var}__raw/__clean/__accepted/
  __saqc_flag`` columns (P16/J2 pivot; golden schema
  scripts/water_qc_output/processed/.../*__qc_timeseries.parquet)
- events table (W4/W5/W6 emissions, J4 union)
- seasonal summary (A7)
- meta table (step, duplicates, active sentinels)
"""

from __future__ import annotations

from dataclasses import dataclass, field

from pyspark.sql import DataFrame, functions as F, types as T
from pyspark.sql.pandas.types import to_arrow_schema

from wq_data_pipeline_spark.functions.scalars import sanitize_name, season_expr
from wq_data_pipeline_spark.operators import pinning
from wq_data_pipeline_spark.operators import series_qc as Q
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


_KEY_FIELDS = [
    T.StructField("station", T.StringType()),
    T.StructField("variable", T.StringType()),
]
_ROW_FIELDS = [
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
        *_KEY_FIELDS,
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
SEASONAL_SCHEMA = T.StructType(
    [
        *_KEY_FIELDS,
        T.StructField("season", T.StringType(), False),
        T.StructField("n_rows", T.LongType(), False),
        T.StructField("coverage_pct", T.DoubleType()),
        T.StructField("nan_pct", T.DoubleType()),
        *[T.StructField(name, T.LongType(), False) for name in Q.SEASON_EVENT_COUNTS.values()],
    ]
)
META_FIELDS = [
    T.StructField("step_seconds", T.DoubleType()),
    T.StructField("duplicates", T.LongType(), False),
    # JSON-ish string (the reference stores the sorted list) so the CSV
    # meta sink can carry it
    T.StructField("sentinel_used", T.StringType()),
]


def _list_of(fields: list[T.StructField]) -> T.ArrayType:
    """A non-null list column of rows of ``fields``."""
    return T.ArrayType(T.StructType(fields), containsNull=False)


def series_schema(cfg: QCConfig) -> T.StructType:
    """One row per series: its keys, the long rows, events and seasons
    as list columns (their ``inline`` gives the long table,
    :data:`EVENTS_SCHEMA` and :data:`SEASONAL_SCHEMA`), and the meta."""
    rows = _ROW_FIELDS + (_SENTEM_FIELDS if cfg.apply_sentem else [])
    return T.StructType(
        [
            *_KEY_FIELDS,
            T.StructField("rows", _list_of(rows), False),
            T.StructField("events", _list_of(EVENTS_SCHEMA.fields[len(KEYS):]), False),
            T.StructField("seasons", _list_of(SEASONAL_SCHEMA.fields[len(KEYS):]), False),
            *META_FIELDS,
        ]
    )


def series_pass(readings: DataFrame, cfg: QCConfig) -> DataFrame:
    """Every series' QC in ONE Python-worker pass: ``groupBy(station,
    variable).applyInArrow`` runs :func:`series_qc.series_table` on each
    whole series, NULL-ts rows included, with the season of each ts
    (``season_expr``, so the season follows the session time zone).
    One row of :func:`series_schema` per series. The workers import the
    kernel by module reference, so the package is shipped first."""
    ship_package(readings.sparkSession)
    schema = series_schema(cfg)
    arrow_schema = to_arrow_schema(schema)

    def per_series(key, table):
        return Q.series_table(
            table,
            arrow_schema,
            max_gap_seconds=cfg.max_gap_seconds,
            z_thresh=cfg.z_thresh,
            value_range=cfg.range_map.get(key[1].as_py()),
            full_suite=cfg.full_suite,
            sentem=cfg.apply_sentem,
        )

    return (
        readings.select(*KEYS, "ts", "value", season_expr("ts").alias("season"))
        .groupBy(*KEYS)
        .applyInArrow(per_series, schema)
    )


def qc_long(readings: DataFrame, cfg: QCConfig) -> DataFrame:
    """The QC long table, the ``rows`` of :func:`series_pass`: station,
    variable, ts, clean, dup_count, raw, gap_seconds, is_gap, f_z,
    saqc_flag, accepted (+ sm_masked, sm_flagged, sm_flagreason). Rows
    with a NULL ts get none, as at ingest (reference
    ensure_time_index)."""
    return series_pass(readings, cfg).select(*KEYS, F.inline("rows"))


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
    # the frame run_qc_pipeline pinned, released by unpin()
    pinned: DataFrame

    def unpin(self) -> None:
        """Release the pin behind these outputs; call it after the last
        sink or figure has read them."""
        pinning.unpin(self.pinned)


def run_qc_pipeline(readings: DataFrame, cfg: QCConfig | None = None) -> QCOutputs:
    """The full DAG. ``readings`` is the canonical long table
    (station, variable, ts, value).

    One subtree is pinned, :func:`series_pass`, so the kernel runs once
    however many actions read it (reference recomputes nothing because
    everything lives in RAM; SURVEY §4.1 'Caching / reuse'). Every
    output is a projection of the pin: the long table and the events
    and seasonal tables are the ``inline`` of its list columns, and the
    meta its plain columns. The wide table pivots the long table over
    the variables that have long rows, sorted, which one collect of the
    pin finds. Release the pin with :meth:`QCOutputs.unpin` after the
    last sink."""
    cfg = cfg or QCConfig()
    series = pinning.pin(series_pass(readings, cfg))
    qc = series.select(*KEYS, F.inline("rows"))
    variables = sorted(
        {r.variable for r in series.filter(F.size("rows") > 0).select("variable").collect()}
    )
    return QCOutputs(
        timeseries=qc,
        timeseries_wide=widen(qc, variables),
        events=series.select(*KEYS, F.inline("events")),
        seasonal=series.select(*KEYS, F.inline("seasons")),
        meta=series.select(*KEYS, *(f.name for f in META_FIELDS)),
        pinned=series,
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
