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

The plan is lazy except for two pins (operators/pinning.py), each
read by several sinks and figures, so the work behind each runs once:
- the long table (the kernel's output);
- the report table (:func:`report_pass`): one more grouped-Arrow pass
  over the long table's clean column, one row per series holding its
  events (the kernel's detectors) and its seasonal summary (A7 plus
  the flat event starts per season) as two list columns. The events
  and seasonal outputs are ``inline`` projections of it; the pin
  reports no partitioning, so the pass shuffles the long table by
  series once more.

The meta table is one window and one aggregate over the readings, so
no report table joins anything.

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
from pyspark.sql.pandas.types import to_arrow_schema

from wq_data_pipeline_spark.functions.scalars import sanitize_name, season_expr
from wq_data_pipeline_spark.operators import clean as C
from wq_data_pipeline_spark.operators import pinning
from wq_data_pipeline_spark.operators import series_qc as Q
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
SEASONAL_SCHEMA = T.StructType(
    [
        T.StructField("station", T.StringType()),
        T.StructField("variable", T.StringType()),
        T.StructField("season", T.StringType(), False),
        T.StructField("n_rows", T.LongType(), False),
        T.StructField("coverage_pct", T.DoubleType()),
        T.StructField("nan_pct", T.DoubleType()),
        *[T.StructField(name, T.LongType(), False) for name in Q.SEASON_EVENT_COUNTS.values()],
    ]
)


def _list_of(schema: T.StructType) -> T.ArrayType:
    """A list column of ``schema``'s rows without their series keys."""
    return T.ArrayType(T.StructType(schema.fields[len(KEYS):]), containsNull=False)


REPORT_SCHEMA = T.StructType(
    [
        *EVENTS_SCHEMA.fields[: len(KEYS)],
        T.StructField("events", _list_of(EVENTS_SCHEMA), False),
        T.StructField("seasons", _list_of(SEASONAL_SCHEMA), False),
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


def report_pass(qc: DataFrame) -> DataFrame:
    """Events and seasonal summary of every series in ONE Python-worker
    pass over the long table: ``groupBy(station, variable)
    .applyInArrow`` runs :func:`series_qc.report_table` on each series'
    (ts, clean) and the season of each ts (``season_expr``, so the
    season follows the session time zone). One row per series:
    station, variable, ``events`` and ``seasons``, two list columns
    whose ``inline`` gives :data:`EVENTS_SCHEMA` and
    :data:`SEASONAL_SCHEMA`."""
    schema = to_arrow_schema(REPORT_SCHEMA)

    def per_series(table):
        return Q.report_table(table, schema)

    return (
        qc.select(*KEYS, "ts", "clean", season_expr("ts").alias("season"))
        .groupBy(*KEYS)
        .applyInArrow(per_series, REPORT_SCHEMA)
    )


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
    # the frames run_qc_pipeline pinned, released by unpin()
    pinned: tuple[DataFrame, ...] = ()

    def unpin(self) -> None:
        """Release every pin behind these outputs; call it after the
        last sink or figure has read them."""
        for df in self.pinned:
            pinning.unpin(df)


def run_qc_pipeline(readings: DataFrame, cfg: QCConfig | None = None) -> QCOutputs:
    """The full DAG. ``readings`` is the canonical long table
    (station, variable, ts, value).

    Two subtrees are pinned, so each runs once however many actions
    read it (reference recomputes nothing because everything lives in
    RAM; SURVEY §4.1 'Caching / reuse'):

    - the long table (:func:`qc_long`), read by ``widen``'s variable
      collect, both parquet sinks, the report pass, the series figures
      and the CLI's WRTDS leg;
    - the report table (:func:`report_pass`), whose ``inline``
      projections are the events (read by the events CSV and the
      event figures) and the seasonal table (read by its CSV and the
      coverage figure).

    ``meta`` reads ``readings`` because it counts the pre-dedup
    duplicates. Release the pins with :meth:`QCOutputs.unpin` after
    the last sink."""
    cfg = cfg or QCConfig()
    qc = pinning.pin(qc_long(readings, cfg))
    report = pinning.pin(report_pass(qc))
    return QCOutputs(
        timeseries=qc,
        timeseries_wide=widen(qc),
        events=report.select(*KEYS, F.inline("events")),
        seasonal=report.select(*KEYS, F.inline("seasons")),
        meta=meta_stage(readings),
        pinned=(qc, report),
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
