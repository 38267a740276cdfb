"""Structured Streaming mode for the QC engine (SURVEY.md §2.8: the
reference is pure batch; this is the engine's streaming extension).

Mappings:
- batch resample (W17)      -> tumbling event-time window + watermark
- gap/session logic (W2/W9) -> session_window aggregation
- per-row QC flags (P7/P11) -> stateless column exprs (identical code
                               to batch — the same functions compose)
- run detectors (W3-W6)     -> foreachBatch over micro-batches (the
                               islands need ordered history; a
                               per-key applyInPandasWithState variant
                               is the low-latency path)
- exact/content dedup       -> dropDuplicatesWithinWatermark
                               (watermark-bounded state)

All sources here are file streams for testability; swap
``readStream.format`` for kafka/kinesis in production — the plan is
source-agnostic.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F
from pyspark.sql import types as T

READINGS_STREAM_SCHEMA = T.StructType(
    [
        T.StructField("station", T.StringType()),
        T.StructField("variable", T.StringType()),
        T.StructField("ts", T.TimestampType()),
        T.StructField("value", T.DoubleType()),
    ]
)


def read_readings_stream(
    spark: SparkSession, path: str, max_files_per_trigger: int = 10
) -> DataFrame:
    return (
        spark.readStream.schema(READINGS_STREAM_SCHEMA)
        .option("maxFilesPerTrigger", max_files_per_trigger)
        .parquet(path)
    )


def sliding_rollup(
    stream: DataFrame,
    window: str = "1 hour",
    slide: str = "30 minutes",
    watermark: str = "2 hours",
) -> DataFrame:
    """Streaming W17 analog: per (station, variable, window) rollup
    with late-data handling (stream twin of the batch
    ``sliding_rollup`` query). Each row lands in window/slide
    overlapping windows; ``slide == window`` is the tumbling rollup.
    Append mode emits each window once its end passes the watermark.
    Median is not incrementally computable — streaming emits
    mean/min/max/count (exact median stays batch)."""
    return (
        stream.withWatermark("ts", watermark)
        .groupBy("station", "variable", F.window("ts", window, slide).alias("w"))
        .agg(
            F.count("value").alias("n"),
            F.avg("value").alias("mean_value"),
            F.min("value").alias("min_value"),
            F.max("value").alias("max_value"),
        )
        .select(
            "station",
            "variable",
            F.col("w.start").alias("window_start"),
            F.col("w.end").alias("window_end"),
            "n",
            "mean_value",
            "min_value",
            "max_value",
        )
    )


def session_rollup(
    stream: DataFrame,
    gap: str = "30 minutes",
    watermark: str = "2 hours",
) -> DataFrame:
    """Streaming session assembly (the W2-gap analog): a session ends
    after ``gap`` of silence per (station, variable)."""
    return (
        stream.withWatermark("ts", watermark)
        .groupBy("station", "variable", F.session_window("ts", gap).alias("s"))
        .agg(F.count("value").alias("n"), F.avg("value").alias("mean_value"))
        .select(
            "station",
            "variable",
            F.col("s.start").alias("session_start"),
            F.col("s.end").alias("session_end"),
            "n",
            "mean_value",
        )
    )


def stream_dedup_exact(
    stream: DataFrame,
    keys: list[str] | None = None,
    ts: str = "ts",
    watermark: str = "2 hours",
) -> DataFrame:
    """Streaming exact deduplication — the streaming member of the
    dedup family (batch twin: ``operators.dedup.exact_dedup_*``).

    ``dropDuplicatesWithinWatermark`` keys state on the dedup columns
    and EVICTS each key once the watermark passes it, so state is
    bounded by (arrival-rate × watermark window), not by stream
    history — the property that keeps this runnable forever at
    ingest scale. Plain ``dropDuplicates`` on a stream would grow
    state without bound."""
    keys = keys or ["station", "variable", ts, "value"]
    return stream.withWatermark(ts, watermark).dropDuplicatesWithinWatermark(keys)


def stream_dedup_content(
    stream: DataFrame,
    text: str = "text",
    id_col: str = "doc_id",
    ts: str = "ts",
    watermark: str = "1 hour",
) -> DataFrame:
    """Streaming content-hash dedup for document ingest: md5 of the
    payload is the dedup key (the streaming analog of the batch
    hash-groupBy ``exact_dedup``); watermark-bounded state as above.
    Emits the first-seen row per content digest."""
    d = stream.withColumn("_digest", F.md5(F.col(text)))
    return (
        d.withWatermark(ts, watermark)
        .dropDuplicatesWithinWatermark(["_digest"])
        .drop("_digest")
    )


def stream_interval_join(
    left: DataFrame,
    right: DataFrame,
    key: str = "station",
    ts: str = "ts",
    within: str = "30 minutes",
    watermark: str = "1 hour",
    right_prefix: str = "r_",
) -> DataFrame:
    """Stream-stream event-time interval join: pair each left row with
    right rows of the same key whose timestamp falls in
    ``[left.ts - within, left.ts]`` (e.g. flag readings near a
    maintenance event). Both sides watermarked — Spark bounds the
    join state to watermark + interval, so state size follows arrival
    rate, not stream history; without the time bound a stream-stream
    join would buffer forever."""
    lcols = left.columns
    r = right.select(
        *[F.col(c).alias(f"{right_prefix}{c}") for c in right.columns]
    ).withWatermark(f"{right_prefix}{ts}", watermark)
    l = left.withWatermark(ts, watermark)
    cond = (
        (F.col(key) == F.col(f"{right_prefix}{key}"))
        & (F.col(f"{right_prefix}{ts}") >= F.col(ts) - F.expr(f"INTERVAL {within}"))
        & (F.col(f"{right_prefix}{ts}") <= F.col(ts))
    )
    return l.join(r, cond, "inner").select(
        *lcols, *[f"{right_prefix}{c}" for c in right.columns if c != key]
    )


def run_microbatch_qc(
    stream: DataFrame,
    output_dir: str,
    checkpoint_dir: str,
    cfg=None,
):
    """foreachBatch bridge: run the batch pipeline's per-series kernel
    (clean + flags, SentemQC off) on each micro-batch (ordered history
    within the batch). Returns the StreamingQuery; caller awaits/stops
    it."""
    from dataclasses import replace

    from wq_data_pipeline_spark.plans.qc_pipeline import QCConfig, qc_long

    cfg = replace(cfg or QCConfig(), apply_sentem=False)

    def process(batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        out = qc_long(batch_df, cfg)
        out.write.mode("append").parquet(output_dir)

    return (
        stream.writeStream.foreachBatch(process)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
