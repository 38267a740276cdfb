"""The full QC pipeline plan — the engine's equivalent of the
reference's EP1/EP2 lifecycle (run_pipeline -> process_variable,
scripts/ufz_water_qc_pipeline.py:666-772) over the long readings
table.

The plan is lazy except for two pins (operators/pinning.py): the
flagged long table and the events table. Each feeds several sinks and
figures, and each sits on top of the pipeline's expensive work (the
pandas robust-z island and the flag chain's window passes; the event
detectors' window passes), so each is cut once and every consumer
reads the cut instead of re-running the subtree.

Where the reference loops per variable in Python, this plan handles
every (station, variable) series in a single pass via window
partitioning; the per-variable Python loop exists only at plan-build
time (to apply per-variable config expressions).

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

from pyspark.sql import DataFrame, functions as F

from wq_data_pipeline_spark.functions.scalars import sanitize_name
from wq_data_pipeline_spark.operators import clean as C
from wq_data_pipeline_spark.operators import detectors as D
from wq_data_pipeline_spark.operators import stats as S
from wq_data_pipeline_spark.operators.pinning import pin

KEYS = ["station", "variable"]

# Detector parameters: the reference's exact fallback-suite values,
# durations converted at its 15-min default step (_to_points, :144-147).
SENTINELS = C.DEFAULT_SENTINELS
FLAT_ATOL = 0.0
FLAT_MIN_HOURS = 2.0  # constants/plateau '2h'
Z_WINDOW_POINTS = 96  # zscore '24h'
JUMP_THRESH = 5.0  # reference flagJumps default (:565)
SLOPE_WINDOW_POINTS = 25
SLOPE_ABS = 1e-10
VAR_WINDOW_POINTS = 24  # variance '6h'
VAR_TOL = 1e-12
ISOLATED_GROUP_POINTS = 2  # isolated '30min' group
ISOLATED_GAP_SECONDS = 3 * 3600.0  # isolated '3h' gap


@dataclass
class QCConfig:
    """Per-run config (reference EP2 hardcoded config, :775-800)."""

    range_map: dict[str, tuple[float, float]] = field(default_factory=dict)
    max_gap_seconds: float = 7200.0
    z_thresh: float = 4.0
    # reference default: process_variable(apply_sentem=True) attaches
    # __sm_masked/__sm_flagged/__sm_flagreason to the wide output
    # (scripts/ufz_water_qc_pipeline.py:740-744)
    apply_sentem: bool = True
    # full_suite=True runs the reference's COMPLETE no-SaQC fallback
    # detector set (apply_saqc_suite else-branch,
    # scripts/ufz_water_qc_pipeline.py:566-577) with the parameters
    # above; full_suite=False keeps the lean set (z + missing + range)
    # that the oracled catalog queries pin.
    full_suite: bool = False


def clean_stage(readings: DataFrame, cfg: QCConfig) -> DataFrame:
    """Sentinels -> dup-resolve -> gap-null: the ``__clean`` series.
    Keeps ``raw`` (pre-gap-null, post-dedup) alongside."""
    d = C.mask_sentinels(readings, KEYS, "value", SENTINELS)
    d = C.resolve_duplicates(d, KEYS, "ts", "value")
    d = d.withColumn("raw", F.col("value"))
    d = C.classify_gaps(d, KEYS, "ts", cfg.max_gap_seconds)
    d = C.null_gap_values(d, "value")
    return d.withColumnRenamed("value", "clean")


def flag_stage(cleaned: DataFrame, cfg: QCConfig) -> DataFrame:
    """Fallback flag suite (apply_saqc_suite semantics, :459-589):
    range + missing + robust-z (+ the full suite's detectors)
    OR-combined to 0/255."""
    d = cleaned.withColumnRenamed("clean", "value")
    # engine='pandas': skiplist rolling median beats WindowExec's
    # per-row frame scan ~38x at w=96 (pipeline hot path; the
    # oracle-gated catalog queries keep the pure-JVM window engine)
    d = D.flag_robust_z(
        d, "value", Z_WINDOW_POINTS, cfg.z_thresh, KEYS, "ts", out="f_z",
        engine="pandas",
    )
    flags = [F.col("f_z"), D.flag_missing("value")]
    if cfg.range_map:
        range_expr = F.lit(False)
        for var, (lo, hi) in cfg.range_map.items():
            range_expr = F.when(
                F.col("variable") == var, D.flag_range("value", lo, hi)
            ).otherwise(range_expr)
        flags.append(range_expr)
    if cfg.full_suite:
        flags.append(D.flag_jumps("value", JUMP_THRESH, KEYS, "ts"))
        # constants + plateau ('2h'): both reduce to the flat-run
        # interval mask (_fallback_flag_constants delegates to
        # _fallback_flag_plateau, :405-407), marking start <= ts <= end
        # where end is the first row AFTER the run (_mask_from_runs,
        # :392-397); flat_run_mask computes it in the series' window
        # pass, so no run table is joined back
        d = D.flat_run_mask(
            d, "value", KEYS, "ts", FLAT_ATOL, FLAT_MIN_HOURS, out="_in_flat"
        )
        flags.append(F.col("_in_flat"))
        # variance ('6h', 1e-12)
        flags.append(
            D.flag_variance("value", VAR_WINDOW_POINTS, KEYS, "ts", VAR_TOL)
        )
        # isolated ('3h' gap both sides, '30min' group)
        d = D.detect_isolated_groups(
            d,
            "value",
            KEYS,
            "ts",
            ISOLATED_GROUP_POINTS,
            ISOLATED_GAP_SECONDS,
            out="_isolated_flag",
        )
        flags.append(F.col("_isolated_flag"))
        # unilof: the reference fallback delegates to zscore('24h', 4.0)
        # (:455-457) == the f_z flag already in ``flags`` — OR-idempotent.
    combined = D.merge_flags(*flags)
    d = d.withColumns(
        {
            "saqc_flag": D.flags_to_code(combined),
            "accepted": F.when(combined, None).otherwise(F.col("value")),
        }
    ).drop("_in_flat", "_isolated_flag")
    return d.withColumnRenamed("value", "clean")


def event_stage(cleaned: DataFrame) -> DataFrame:
    """Detector event tables, unioned (J4) with NaN-padded columns
    like the golden ``__events_all.csv``."""
    d = cleaned.withColumnRenamed("clean", "value")
    flat = D.detect_flat_runs(d, "value", KEYS, "ts", FLAT_ATOL, FLAT_MIN_HOURS)
    switches = D.detect_binary_switches(d, "value", KEYS, "ts")
    slopes = D.detect_flat_slopes(
        d, "value", KEYS, "ts", SLOPE_WINDOW_POINTS, SLOPE_ABS, FLAT_MIN_HOURS
    )
    return (
        flat.unionByName(switches, allowMissingColumns=True)
        .unionByName(slopes, allowMissingColumns=True)
    )


def seasonal_stage(cleaned: DataFrame, events: DataFrame, step_seconds: float = 900.0) -> DataFrame:
    """A7 + per-season event counts joined in."""
    from wq_data_pipeline_spark.functions.scalars import season_expr

    d = cleaned.withColumnRenamed("clean", "value")
    seas = S.seasonal_stats(d, KEYS, "ts", "value", step_seconds)
    ev_counts = (
        events.withColumn("season", season_expr("start"))
        .groupBy(*KEYS, "season")
        .pivot("type", ["flat_values", "flat_slopes"])
        .count()
        .withColumnRenamed("flat_values", "flat_values_events")
        .withColumnRenamed("flat_slopes", "flat_slopes_events")
    )
    out = seas.join(ev_counts, on=[*KEYS, "season"], how="left")
    return out.fillna(0, subset=[c for c in ("flat_values_events", "flat_slopes_events") if c in out.columns])


def meta_stage(readings: DataFrame) -> DataFrame:
    """Per-series meta: inferred step, duplicate count, and the
    ACTIVE sentinel set (reference meta dict
    ``{station, col, step, sentinel_used, duplicates}``,
    scripts/ufz_water_qc_pipeline.py:738)."""
    step = C.infer_step(readings, KEYS, "ts")
    dups = (
        readings.groupBy(*KEYS, "ts")
        .agg(F.count(F.lit(1)).alias("_n"))
        .groupBy(*KEYS)
        .agg(F.sum(F.col("_n") - 1).alias("duplicates"))
    )
    used = C.active_sentinels(readings, KEYS, "value", SENTINELS).select(
        *KEYS,
        # JSON-ish string (the reference stores the sorted list) so the
        # CSV meta sink can carry it
        F.to_json(F.col("_active_sentinels")).alias("sentinel_used"),
    )
    return step.join(dups, on=KEYS, how="left").join(used, on=KEYS, how="left")


def sentem_stage(flagged: DataFrame) -> DataFrame:
    """SentemQC columns on the QC long table (reference sm_df inside
    process_variable, scripts/ufz_water_qc_pipeline.py:697-701,
    740-744): 5-pass band flags over the clean series ->
    ``sm_masked`` / ``sm_flagged`` / ``sm_flagreason``. Runs on a
    copy column so the pre-mask does not clobber ``clean``; the band
    windows share the pipeline's (station, variable) × ts sort key."""
    from wq_data_pipeline_spark.operators.sentem import apply_sentemqc

    d = flagged.withColumn("_sv", F.col("clean"))
    d = apply_sentemqc(d, value="_sv", keys=KEYS, ts="ts")
    keep = [c for c in flagged.columns]
    return d.select(
        *keep,
        F.col("value_masked").alias("sm_masked"),
        F.col("is_flagged").alias("sm_flagged"),
        F.col("flag_reason").alias("sm_flagreason"),
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

    Two subtrees are pinned, so each runs once however many actions
    read it (reference recomputes nothing because everything lives in
    RAM; SURVEY §4.1 'Caching / reuse'):

    - the flagged long table (after ``flag_stage`` and, when enabled,
      ``sentem_stage``), read by ``widen``'s variable collect, both
      parquet sinks, every figure input and the CLI's WRTDS leg;
    - the events table, read by the events CSV, the seasonal table
      (CSV and figure) and the event figures.

    The events and seasonal inputs are the cleaned columns projected
    back out of the pinned table: the flag stages only add columns
    and keep every row, since each per-series statistic is a window
    column rather than a join. (The pandas
    islands' Arrow round trip turns NaN into NULL, as ingest already
    does: sources/csv_source.py.) ``meta`` reads ``readings`` because
    it counts the pre-dedup duplicates.

    Pinning runs the pinned plans' shuffle stages here (AQE plans its
    stages when the lazy cut is taken). Release the pins with
    ``operators.pinning.unpin`` after the last sink."""
    cfg = cfg or QCConfig()
    cleaned = clean_stage(readings, cfg)
    flagged = flag_stage(cleaned, cfg)
    if cfg.apply_sentem:
        flagged = sentem_stage(flagged)
    flagged = pin(flagged)
    base = flagged.select(*cleaned.columns)
    events = pin(event_stage(base))
    seasonal = seasonal_stage(base, events)
    meta = meta_stage(readings)
    wide = widen(flagged)
    return QCOutputs(
        timeseries=flagged,
        timeseries_wide=wide,
        events=events,
        seasonal=seasonal,
        meta=meta,
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
