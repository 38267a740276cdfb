"""Source/sink format breadth: the engine's tables round-trip through
JSON-lines and ORC with explicit schemas (never inference in the hot
path) and identical downstream aggregates.

Reference scope is CSV + parquet (SURVEY §2.1 S1–S6); these formats
are engine extensions a Spark deployment gets from the same
DataFrameReader surface.
"""

from __future__ import annotations

from pyspark.sql import functions as F
from pyspark.sql import types as T

from wq_data_pipeline_spark.sources.testdata import load_table


def _agg(df):
    rows = (
        df.groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.round(F.col("value") * 100).cast("long")).alias("cents"),
            F.unix_micros(F.max("ts")).alias("max_ts_us"),
        )
        .collect()
    )
    return {r.event_type: (r.n, r.cents, r.max_ts_us) for r in rows}


_SCHEMA = T.StructType(
    [
        T.StructField("event_id", T.LongType()),
        T.StructField("ts", T.TimestampType()),
        T.StructField("event_type", T.StringType()),
        T.StructField("value", T.DoubleType()),
    ]
)


def test_jsonl_round_trip(spark, sf_dir, tmp_path):
    ev = load_table(spark, sf_dir, "events").select(
        "event_id", "ts", "event_type", "value"
    )
    path = str(tmp_path / "events_jsonl")
    # default JSON timestampFormat truncates to milliseconds; the
    # engine's timestamps are µs so the format must carry 6 digits
    fmt = "yyyy-MM-dd'T'HH:mm:ss.SSSSSSXXX"
    ev.write.mode("overwrite").option("timestampFormat", fmt).json(path)
    back = spark.read.schema(_SCHEMA).option("timestampFormat", fmt).json(path)
    assert _agg(back) == _agg(ev)


def test_orc_round_trip(spark, sf_dir, tmp_path):
    from wq_data_pipeline_spark.sources.orc_source import read_orc, write_orc

    ev = load_table(spark, sf_dir, "events").select(
        "event_id", "ts", "event_type", "value"
    )
    path = str(tmp_path / "events_orc")
    write_orc(ev, path)
    back = read_orc(spark, path)
    assert _agg(back) == _agg(ev)


def test_orc_pushdown_and_partition_prune(spark, sf_dir, tmp_path):
    """ORC scans must push filters and prune partitions exactly like
    parquet — the format matrix doesn't trade away the 100-TB scan
    disciplines."""
    from wq_data_pipeline_spark.sources.orc_source import read_orc, write_orc

    ev = load_table(spark, sf_dir, "events").select(
        "event_id", "ts", "event_type", "value"
    )
    path = str(tmp_path / "events_orc_part")
    write_orc(ev, path, partition_by=("event_type",))
    back = read_orc(spark, path).filter(
        (F.col("event_type") == "click") & (F.col("value") > 100.0)
    ).select("event_id", "value")
    plan = back._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan or "partitionFilters" in plan
    assert "PushedFilters: [" in plan and "value" in plan.split(
        "PushedFilters"
    )[1][:120]
    got = {r.event_type for r in read_orc(spark, path)
           .filter(F.col("event_type") == "click")
           .select("event_type").distinct().collect()}
    assert got <= {"click"}


def test_partitioned_parquet_prunes(spark, sf_dir, tmp_path):
    """Partition-by-key output (the 100-TB layout for the readings
    spine) must show partition pruning in the scan, not a full read."""
    ev = load_table(spark, sf_dir, "events").select("ts", "event_type", "value")
    path = str(tmp_path / "events_part")
    ev.write.mode("overwrite").partitionBy("event_type").parquet(path)
    back = spark.read.parquet(path).filter(F.col("event_type") == "click")
    plan = back._jdf.queryExecution().executedPlan().toString()
    got = {r.event_type for r in back.select("event_type").distinct().collect()}
    assert got <= {"click"}
    assert "PartitionFilters" in plan or "partitionFilters" in plan


def test_tz_localize_nat_policy(spark):
    """DST policy parity (reference tz_localize(ambiguous='NaT',
    nonexistent='NaT'), scripts/ufz_water_qc_pipeline.py:71):
    spring-forward hole and fall-back fold rows -> NULL, normal rows
    -> the exact UTC instant."""
    import datetime

    from pyspark.sql import functions as F

    from wq_data_pipeline_spark.sources.csv_source import localize_naive_timestamps

    rows = [
        ("hole", "2024-03-31 02:30:00"),      # nonexistent in Berlin
        ("fold", "2024-10-27 02:30:00"),      # ambiguous in Berlin
        ("normal", "2024-06-01 12:00:00"),    # CEST -> 10:00 UTC
        ("winter", "2024-01-15 12:00:00"),    # CET -> 11:00 UTC
    ]
    df = spark.createDataFrame(rows, ["k", "t"]).withColumn(
        "t", F.to_timestamp("t")
    )
    out = {
        r.k: r.t
        for r in localize_naive_timestamps(df, "t", "Europe/Berlin").collect()
    }
    assert out["hole"] is None
    assert out["fold"] is None
    assert out["normal"] == datetime.datetime(2024, 6, 1, 10, 0)
    assert out["winter"] == datetime.datetime(2024, 1, 15, 11, 0)
    kept = {
        r.k: r.t
        for r in localize_naive_timestamps(
            df, "t", "Europe/Berlin", ambiguous="keep", nonexistent="keep"
        ).collect()
    }
    assert kept["fold"] is not None and kept["hole"] is not None


def test_resolve_duplicates_keep_first(spark):
    """how='first' keeps the first scan-order value per duplicated
    timestamp (reference ensure_time_index keep-first drop, :74)."""
    import pandas as pd

    from wq_data_pipeline_spark.operators.clean import resolve_duplicates

    pdf = pd.DataFrame(
        {
            "station": "s1",
            "variable": "o2",
            "ts": pd.to_datetime(
                ["2024-01-01 00:00", "2024-01-01 00:00", "2024-01-01 00:15"]
            ),
            "value": [1.0, 9.0, 3.0],
        }
    )
    out = resolve_duplicates(
        spark.createDataFrame(pdf).coalesce(1), how="first"
    ).orderBy("ts").collect()
    assert [r.value for r in out] == [1.0, 3.0]
    assert [r.dup_count for r in out] == [2, 1]


def test_jsonl_source_corrupt_record_policy(spark, tmp_path):
    """sources.jsonl_source: PERMISSIVE capture of malformed lines
    (row survives with NULL columns + raw line in _corrupt_record),
    drop_corrupt filters them, and the sink round-trips."""
    from wq_data_pipeline_spark.sources import jsonl_source as J

    p = tmp_path / "docs.jsonl"
    p.write_text(
        '{"doc_id": 1, "text": "alpha"}\n'
        "this is not json\n"
        '{"doc_id": 2, "text": "beta"}\n'
    )
    schema = T.StructType(
        [
            T.StructField("doc_id", T.LongType()),
            T.StructField("text", T.StringType()),
        ]
    )
    df = J.read_jsonl(spark, str(p), schema)
    assert J.corrupt_count(df) == 1
    bad = df.filter(F.col(J.CORRUPT_COL).isNotNull()).collect()
    assert bad[0][J.CORRUPT_COL] == "this is not json"

    clean = J.read_jsonl(spark, str(p), schema, drop_corrupt=True)
    assert J.CORRUPT_COL not in clean.columns
    assert sorted(r.doc_id for r in clean.collect()) == [1, 2]

    out = str(tmp_path / "out_jsonl")
    J.write_jsonl(clean, out, n_files=1)
    back = J.read_jsonl(spark, out, schema, drop_corrupt=True)
    assert sorted(r.doc_id for r in back.collect()) == [1, 2]

    import pytest

    with pytest.raises(TypeError):
        J.read_jsonl(spark, str(p), None)  # schema is mandatory


def test_malformed_timestamp_drops_only_its_row(spark, tmp_path):
    """A timestamp cell that does not parse is NULL and its row is
    dropped, under ANSI too; every other row keeps its values."""
    import datetime

    from wq_data_pipeline_spark.sources.csv_source import read_wide_csv

    (tmp_path / "wq.csv").write_text(
        "timestamp,station,o2\n"
        "2024-01-01 00:00:00,s,1.5\n"
        "not-a-time,s,2.5\n"
        "2024-01-01 00:30:00,s,3.5\n"
    )
    assert spark.conf.get("spark.sql.ansi.enabled") == "true"
    rows = sorted(tuple(r) for r in read_wide_csv(spark, str(tmp_path / "wq.csv")).collect())
    assert rows == [
        (datetime.datetime(2024, 1, 1, 0, 0), "s", 1.5),
        (datetime.datetime(2024, 1, 1, 0, 30), "s", 3.5),
    ]
