"""Wide sensor-CSV ingest -> canonical long readings.

Mirrors the reference's ingest semantics (read_data +
ensure_time_index, scripts/ufz_water_qc_pipeline.py:68-75,150-155):
timestamp coercion (malformed -> NULL -> dropped), optional station
equality filter (pushed to the scan by Catalyst), then a melt to long
format via ``stack`` so one lazy plan covers every variable.

NaN-vs-NULL policy (SURVEY.md §1.2): all non-finite inputs become SQL
NULL at the ingest boundary; downstream operators only ever test
``isNull``.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F


def read_wide_csv(
    spark: SparkSession,
    path: str,
    timestamp_col: str = "timestamp",
    station_field: str | None = None,
    station_value: str | None = None,
    usecols: list[str] | None = None,
) -> DataFrame:
    """CSV scan with header + schema inference, ts parse, station filter.

    Reference: read_data, scripts/ufz_water_qc_pipeline.py:150-155.
    """
    df = spark.read.option("header", True).option("inferSchema", True).csv(path)
    if usecols:
        df = df.select(*usecols)
    # try_: a malformed cell is NULL (and dropped below) under ANSI too
    df = df.withColumn(timestamp_col, F.try_to_timestamp(F.col(timestamp_col)))
    df = df.filter(F.col(timestamp_col).isNotNull())
    if station_field is not None and station_value is not None:
        df = df.filter(F.col(station_field) == F.lit(station_value))
    return df


def localize_naive_timestamps(
    df: DataFrame,
    ts_col: str,
    zone: str,
    ambiguous: str = "NaT",
    nonexistent: str = "NaT",
) -> DataFrame:
    """tz-localize naive wall-clock timestamps to UTC with the
    reference's DST policy (``tz_localize(ambiguous='NaT',
    nonexistent='NaT')``, scripts/ufz_water_qc_pipeline.py:71).

    Pure JVM expressions — a naive t in ``zone`` is
    - *nonexistent* (spring-forward hole) iff the UTC round-trip does
      not reproduce t;
    - *ambiguous* (fall-back fold) iff a second UTC instant (±1h from
      Spark's pick) also maps back to t.
    ``'NaT'`` nulls those rows (reference policy); ``'keep'`` keeps
    Spark's resolution (earliest offset). Output column is the UTC
    instant; malformed policy strings raise.
    """
    if ambiguous not in ("NaT", "keep") or nonexistent not in ("NaT", "keep"):
        raise ValueError("ambiguous/nonexistent must be 'NaT' or 'keep'")
    t = F.col(ts_col)
    utc = F.to_utc_timestamp(t, zone)
    roundtrip = F.from_utc_timestamp(utc, zone)
    is_nonexistent = roundtrip != t
    # a second mapping sits ±1h away for standard DST, ±30m for the
    # half-hour DST zones (e.g. Lord Howe)
    folds = [
        F.from_utc_timestamp(utc + F.expr(f"INTERVAL {m} MINUTES"), zone) == t
        for m in (60, -60, 30, -30)
    ]
    is_ambiguous = ~is_nonexistent & folds[0]
    for c in folds[1:]:
        is_ambiguous = is_ambiguous | (~is_nonexistent & c)
    out = utc
    if nonexistent == "NaT":
        out = F.when(is_nonexistent, None).otherwise(out)
    if ambiguous == "NaT":
        out = F.when(is_ambiguous, None).otherwise(out)
    return df.withColumn(ts_col, out)


def melt_wide(
    df: DataFrame,
    variables: list[str],
    timestamp_col: str = "timestamp",
    station_col: str | None = None,
    station_literal: str = "",
) -> DataFrame:
    """Wide -> long melt: one output row per (station, variable, ts).

    Missing variable columns are skipped silently, matching the
    reference's ``if col not in df.columns: continue``
    (scripts/ufz_water_qc_pipeline.py:754). Non-numeric cells (``NA``,
    which pandas reads as NaN, makes CSV inference read the column as
    string) and non-finite values (NaN, ±inf) -> NULL.
    """
    present = [v for v in variables if v in df.columns]
    if not present:
        raise ValueError(f"none of {variables} present in {df.columns}")
    # schema inference makes an all-digit station column numeric; the
    # series key is a string either way
    station = (F.col(station_col) if station_col else F.lit(station_literal)).cast("string")
    pairs = []
    for v in present:
        # try_: a non-numeric cell is NULL under ANSI too
        c = F.col(v).try_cast("double")
        clean = F.when(c.isNull() | F.isnan(c) | (F.abs(c) == float("inf")), None).otherwise(c)
        pairs.append(F.struct(F.lit(v).alias("variable"), clean.alias("value")))
    return (
        df.select(
            station.alias("station"),
            F.col(timestamp_col).alias("ts"),
            F.explode(F.array(*pairs)).alias("_kv"),
        )
        .select("station", F.col("_kv.variable").alias("variable"), "ts", F.col("_kv.value").alias("value"))
    )
