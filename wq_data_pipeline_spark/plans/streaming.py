"""Streaming family: the streaming module's operators run in batch mode
plus the windowed event-time rollups they mirror (sessionization,
sliding and continuous-aggregate rollups, watermark dedup, interval
coalescing).

Structured Streaming transformations are mode-agnostic DataFrame
plans: ``F.window`` / ``F.session_window`` / the interval-join
condition execute identically on a batch frame (``withWatermark`` is
a no-op outside a stream). Cataloging the SAME functions from
``streaming/stream_qc.py`` over the driver's events table gives the
streaming suite oracle rows; the one piece that cannot run in batch
(``dropDuplicatesWithinWatermark`` raises on batch frames) stays
covered by the streaming tests.

Determinism: the readings feed quantizes value to integer cents (as
doubles) BEFORE the rollups, so every sum/avg accumulates
integer-valued doubles — exact in IEEE754 regardless of partitioning
or accumulation order. Timestamps are emitted as epoch-µs bigints."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window, functions as F

from wq_data_pipeline_spark.sources.testdata import load_table


def q_sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Session assembly per user (gap > 30 min starts a new session) —
    the batch analog of session_window, built from islands (W3)."""
    ev = load_table(spark, sf_dir, "events").select("user_id", "ts", "value", "event_id")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    gap = (F.unix_micros("ts") - F.unix_micros(F.lag("ts").over(w))) / 1e6
    d = ev.withColumn(
        "_new", F.when(gap.isNull() | (gap > 1800.0), 1).otherwise(0)
    ).withColumn(
        "session_id",
        F.sum("_new").over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow)),
    )
    return d.groupBy("user_id", "session_id").agg(
        F.unix_micros(F.min("ts")).alias("start_us"),
        F.unix_micros(F.max("ts")).alias("end_us"),
        F.count(F.lit(1)).alias("n_events"),
        F.round(F.sum("value"), 2).alias("session_value"),
    )


SQL_SESSIONIZE = """
WITH d AS (
  SELECT user_id, ts, value,
         CASE WHEN (epoch_us(ts) - lag(epoch_us(ts))
                    OVER (PARTITION BY user_id ORDER BY ts, event_id)) / 1e6 > 1800.0
                OR lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) IS NULL
              THEN 1 ELSE 0 END AS new_s,
         event_id
  FROM events
),
s AS (
  SELECT user_id, ts, value,
         CAST(sum(new_s) OVER (PARTITION BY user_id ORDER BY ts, event_id ROWS UNBOUNDED PRECEDING) AS BIGINT) AS session_id
  FROM d
)
SELECT user_id, session_id, epoch_us(min(ts)) AS start_us, epoch_us(max(ts)) AS end_us,
       count(*) AS n_events, round(sum(value), 2) AS session_value
FROM s GROUP BY user_id, session_id"""


def q_sliding_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding-window rollup (10-min windows every 5 min) per event
    type — the batch form of the streaming sliding window; each row
    lands in windowDuration/slideDuration = 2 windows. Value summed in
    integer cents so overlapping-window accumulation order can't flake
    the oracle hash."""
    ev = load_table(spark, sf_dir, "events").select("ts", "event_type", "value")
    cents = F.round(F.col("value") * 100).cast("long")
    return (
        ev.withColumn("w", F.window("ts", "10 minutes", "5 minutes"))
        .groupBy(F.unix_micros("w.start").alias("win_start_us"), "event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(cents).alias("sum_cents"),
        )
    )


SQL_SLIDING = """
WITH e AS (
  SELECT epoch_us(ts) AS us, event_type, CAST(round(value * 100) AS BIGINT) AS cents
  FROM events
),
assigned AS (
  SELECT (us // 300000000) * 300000000 AS win_start_us, event_type, cents FROM e
  UNION ALL
  SELECT (us // 300000000) * 300000000 - 300000000 AS win_start_us, event_type, cents FROM e
)
SELECT win_start_us, event_type, count(*) AS n_events, CAST(sum(cents) AS BIGINT) AS sum_cents
FROM assigned GROUP BY win_start_us, event_type"""


def q_hypertable_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hypertable-style continuous aggregate: DAILY stats computed by
    re-aggregating HOURLY partials, never re-reading raw rows — the
    pre-aggregation reuse pattern that makes 100-TB rollups cheap
    (daily scans hourly partials, ~1/3600 of the raw volume; every agg
    here is decomposable so the result equals direct aggregation,
    which is exactly what the oracle computes from raw events)."""
    ev = load_table(spark, sf_dir, "events").select("ts", "event_type", "value")
    cents = F.round(F.col("value") * 100).cast("long")
    hourly = ev.groupBy(
        F.date_trunc("hour", "ts").alias("hour"), "event_type"
    ).agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(cents).alias("cents"),
        F.min(cents).alias("cmin"),
        F.max(cents).alias("cmax"),
    )
    return hourly.groupBy(
        F.unix_micros(F.date_trunc("day", "hour")).alias("day_us"), "event_type"
    ).agg(
        F.sum("n").alias("n_events"),
        F.sum("cents").alias("sum_cents"),
        F.min("cmin").alias("min_cents"),
        F.max("cmax").alias("max_cents"),
    )


SQL_HYPERTABLE = """
SELECT epoch_us(date_trunc('day', ts)) AS day_us, event_type,
       count(*) AS n_events,
       CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS sum_cents,
       min(CAST(round(value * 100) AS BIGINT)) AS min_cents,
       max(CAST(round(value * 100) AS BIGINT)) AS max_cents
FROM events GROUP BY day_us, event_type"""


# session gap / tumbling width / interval-join bound — shared with the
# oracle SQL below
_SESSION_GAP = "30 minutes"
_SESSION_GAP_US = 1_800_000_000
_TUMBLE = "1 hour"
_IJ_WITHIN = "2 hours"


def _readings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """events -> the streaming readings shape (station, variable, ts,
    value): station = event_type, variable = user_id mod 7 (35 series),
    value = integer cents as double (exact accumulation)."""
    ev = load_table(spark, sf_dir, "events")
    return ev.select(
        F.col("event_type").alias("station"),
        (F.col("user_id") % 7).cast("string").alias("variable"),
        "ts",
        F.round(F.col("value") * 100).alias("value"),
    )


def q_stream_tumbling_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """streaming.sliding_rollup with slide == window (the tumbling W17
    stream analog) run in batch: per-series hourly window stats. Same
    plan a watermark + append-mode sink would execute incrementally."""
    from wq_data_pipeline_spark.streaming.stream_qc import sliding_rollup

    out = sliding_rollup(_readings(spark, sf_dir), _TUMBLE, _TUMBLE)
    return out.select(
        "station",
        "variable",
        F.unix_micros("window_start").alias("win_start_us"),
        "n",
        F.round("mean_value", 6).alias("mean_value"),
        "min_value",
        "max_value",
    )


SQL_STREAM_TUMBLING = """
WITH r AS (
  SELECT event_type AS station, CAST(user_id % 7 AS VARCHAR) AS variable,
         ts, round(value * 100) AS value
  FROM events
)
SELECT station, variable, epoch_us(date_trunc('hour', ts)) AS win_start_us,
       count(value) AS n, round(avg(value), 6) AS mean_value,
       min(value) AS min_value, max(value) AS max_value
FROM r GROUP BY station, variable, date_trunc('hour', ts)"""


def q_stream_session_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """streaming.session_rollup (W2-gap analog) run in batch:
    ``session_window`` sessions per series, 30-min silence closes a
    session. Spark merges sessions whose [ts, ts+gap) intervals touch,
    so a diff of exactly the gap still merges — the oracle's islands
    rule is `diff > gap` starts a session, and session_end =
    last_ts + gap."""
    from wq_data_pipeline_spark.streaming.stream_qc import session_rollup

    out = session_rollup(_readings(spark, sf_dir), gap=_SESSION_GAP)
    return out.select(
        "station",
        "variable",
        F.unix_micros("session_start").alias("session_start_us"),
        F.unix_micros("session_end").alias("session_end_us"),
        "n",
        F.round("mean_value", 6).alias("mean_value"),
    )


SQL_STREAM_SESSION = f"""
WITH r AS (
  SELECT event_type AS station, CAST(user_id % 7 AS VARCHAR) AS variable,
         ts, round(value * 100) AS value
  FROM events
),
d AS (
  SELECT *, CASE WHEN lag(ts) OVER w IS NULL
                   OR epoch_us(ts) - epoch_us(lag(ts) OVER w) > {_SESSION_GAP_US}
                 THEN 1 ELSE 0 END AS new_s
  FROM r WINDOW w AS (PARTITION BY station, variable ORDER BY ts)
),
s AS (
  SELECT *, CAST(sum(new_s) OVER (PARTITION BY station, variable ORDER BY ts
                                  ROWS UNBOUNDED PRECEDING) AS BIGINT) AS sid
  FROM d
)
SELECT station, variable,
       epoch_us(min(ts)) AS session_start_us,
       epoch_us(max(ts)) + {_SESSION_GAP_US} AS session_end_us,
       count(value) AS n, round(avg(value), 6) AS mean_value
FROM s GROUP BY station, variable, sid"""


def q_stream_interval_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """streaming.stream_interval_join run in batch: pair each click
    with the same user's views in the preceding 2 hours. In streaming
    both sides are watermarked so join state stays bounded; the batch
    plan (this entry) is the same equi+range hash join."""
    from wq_data_pipeline_spark.streaming.stream_qc import stream_interval_join

    ev = load_table(spark, sf_dir, "events")

    def side(t: str) -> DataFrame:
        return ev.filter(F.col("event_type") == t).select(
            "user_id", "ts", "event_id", "value"
        )

    out = stream_interval_join(
        side("click"), side("view"), key="user_id", ts="ts", within=_IJ_WITHIN
    )
    return out.select(
        "user_id",
        F.unix_micros("ts").alias("ts_us"),
        "event_id",
        "value",
        F.unix_micros("r_ts").alias("r_ts_us"),
        "r_event_id",
        "r_value",
    )


SQL_STREAM_IJ = """
SELECT l.user_id, epoch_us(l.ts) AS ts_us, l.event_id, l.value,
       epoch_us(r.ts) AS r_ts_us, r.event_id AS r_event_id, r.value AS r_value
FROM events l JOIN events r
  ON l.event_type = 'click' AND r.event_type = 'view'
 AND l.user_id = r.user_id
 AND r.ts >= l.ts - INTERVAL 2 HOUR AND r.ts <= l.ts"""


# -------------------------------------------------- watermark-dedup (batch)

_DEDUP_WIN_US = 600_000_000  # 10 minutes


def q_event_dedup_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Keep-first dedup per (user_id, event_type, 10-min tumbling
    window) — the batch semantics of streaming
    ``dropDuplicatesWithinWatermark``; tie-break (ts, event_id)."""
    ev = load_table(spark, sf_dir, "events").select(
        "event_id", "ts", "user_id", "event_type"
    )
    r = ev.withColumn("w", F.window("ts", "10 minutes")).withColumn(
        "win_start_us", F.unix_micros(F.col("w.start"))
    )
    part = Window.partitionBy("user_id", "event_type", "win_start_us")
    r = r.withColumn(
        "rn", F.row_number().over(part.orderBy("ts", "event_id"))
    ).withColumn("n_in_window", F.count(F.lit(1)).over(part))
    return r.filter(F.col("rn") == 1).select(
        "event_id", "user_id", "event_type", "win_start_us", "n_in_window"
    )


SQL_EVENT_DEDUP_WINDOW = f"""
WITH e AS (
  SELECT event_id, user_id, event_type, epoch_us(ts) AS us FROM events
),
r AS (
  SELECT event_id, user_id, event_type,
         (us // {_DEDUP_WIN_US}) * {_DEDUP_WIN_US} AS win_start_us,
         row_number() OVER (PARTITION BY user_id, event_type, us // {_DEDUP_WIN_US}
                            ORDER BY us, event_id) AS rn,
         count(*) OVER (PARTITION BY user_id, event_type, us // {_DEDUP_WIN_US}) AS n_in_window
  FROM e
)
SELECT event_id, user_id, event_type, win_start_us, n_in_window
FROM r WHERE rn = 1"""


_IV_LEN_US = 1_800_000_000  # each event opens a 30-min activity interval


def q_interval_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interval coalescing: each event opens a 30-min activity
    interval per user; overlapping-or-touching intervals merge into
    maximal islands (the classic sorted-sweep with a running max of
    interval ends — one window per key, no self-join).

    The same primitive underlies uptime/coverage reports, QC mask
    consolidation, and GDPR retention-window math. Per-user rollup:
    island count, covered time, longest island. All µs BIGINT."""
    ev = load_table(spark, sf_dir, "events").select("user_id", "ts", "event_id")
    s = ev.select(
        "user_id",
        F.unix_micros("ts").alias("start_us"),
        (F.unix_micros("ts") + F.lit(_IV_LEN_US)).alias("end_us"),
        "event_id",
    )
    w = Window.partitionBy("user_id").orderBy("start_us", "event_id")
    prev_max_end = F.max("end_us").over(
        w.rowsBetween(Window.unboundedPreceding, -1)
    )
    new_island = (
        prev_max_end.isNull() | (F.col("start_us") > prev_max_end)
    ).cast("long")
    islands = (
        s.withColumn("new_i", new_island)
        .withColumn(
            "island",
            F.sum("new_i").over(w.rowsBetween(Window.unboundedPreceding, 0)),
        )
        .groupBy("user_id", "island")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.min("start_us").alias("i_start"),
            F.max("end_us").alias("i_end"),
        )
    )
    return islands.groupBy("user_id").agg(
        F.sum("n_events").alias("n_events"),
        F.count(F.lit(1)).alias("n_islands"),
        F.sum(F.col("i_end") - F.col("i_start")).alias("covered_us"),
        F.max(F.col("i_end") - F.col("i_start")).alias("longest_us"),
    )


SQL_INTERVAL_MERGE = f"""
WITH s AS (
  SELECT user_id, epoch_us(ts) AS start_us,
         epoch_us(ts) + {_IV_LEN_US} AS end_us, event_id
  FROM events),
m AS (
  SELECT *,
         max(end_us) OVER (PARTITION BY user_id ORDER BY start_us, event_id
                           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
           AS prev_max_end
  FROM s),
i AS (
  SELECT *, CAST(sum(CASE WHEN prev_max_end IS NULL
                           OR start_us > prev_max_end THEN 1 ELSE 0 END)
             OVER (PARTITION BY user_id ORDER BY start_us, event_id
                   ROWS UNBOUNDED PRECEDING) AS BIGINT) AS island
  FROM m),
isl AS (
  SELECT user_id, island, count(*) AS n_events,
         min(start_us) AS i_start, max(end_us) AS i_end
  FROM i GROUP BY user_id, island)
SELECT user_id, CAST(sum(n_events) AS BIGINT) AS n_events,
       count(*) AS n_islands,
       CAST(sum(i_end - i_start) AS BIGINT) AS covered_us,
       CAST(max(i_end - i_start) AS BIGINT) AS longest_us
FROM isl GROUP BY user_id"""


ENTRIES = {
    "event_dedup_window": (q_event_dedup_window, SQL_EVENT_DEDUP_WINDOW),
    "hypertable_rollup": (q_hypertable_rollup, SQL_HYPERTABLE),
    "interval_merge": (q_interval_merge, SQL_INTERVAL_MERGE),
    "sessionize": (q_sessionize, SQL_SESSIONIZE),
    "sliding_rollup": (q_sliding_rollup, SQL_SLIDING),
    "stream_interval_join": (q_stream_interval_join, SQL_STREAM_IJ),
    "stream_session_rollup": (q_stream_session_rollup, SQL_STREAM_SESSION),
    "stream_tumbling_rollup": (q_stream_tumbling_rollup, SQL_STREAM_TUMBLING),
}
