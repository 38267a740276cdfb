"""QC / time-series family: the reference pipeline's SURVEY §2 detectors
(A*, W*, P*, J* ids in each docstring), the SentemQC band passes, the
fallback suite, WRTDS, and the time-series analytics built on the same
events series (resampling, interpolation, EWMA/DES forecasts, trend and
seasonality statistics).

The driver's ``events`` table is read as an irregular sensor series:
key = event_type, ts = ts, value = value (TESTDATA.md / FIXTURES.md §B).
The series is first deduped on (event_type, ts) by median — the
reference's A1 — which also makes every downstream window deterministic
(unique order key). ``ORACLE_CLEAN`` is the same dedup as an oracle CTE.

Determinism techniques (so Spark and DuckDB hash-match exactly):
- Integer-cents closed forms for window mean/std/variance/slope
  (events.value is 2-decimal): all window sums are exact BIGINT, the
  final double division is bit-identical in both engines.
- Explicit lag/lead expression trees (tri5, EWMA and DES taps) — a
  fixed tree evaluates identically; only *aggregate* functions have
  engine-chosen association order.
- Sentinels/sensor codes are synthesized deterministically from
  event_id so the detectors have something to fire on.

``_events`` (µs timestamps, integer-cent values) and ``_events_raw``
(the raw columns) are the two shared event projections; the other
families import them from here."""

from __future__ import annotations

import math

from pyspark.sql import DataFrame, SparkSession, Window, functions as F

from wq_data_pipeline_spark.operators import clean as C
from wq_data_pipeline_spark.operators import detectors as D
from wq_data_pipeline_spark.operators import sentem as SM
from wq_data_pipeline_spark.operators import stats as S
from wq_data_pipeline_spark.operators import windows as W
from wq_data_pipeline_spark.operators.asof import asof_join_backward
from wq_data_pipeline_spark.sources.testdata import load_table


KEY = ["event_type"]

# Shared oracle CTE: dedupe events on (event_type, ts) by exact median.
ORACLE_CLEAN = (
    "WITH clean AS (SELECT event_type, ts, median(value) AS value "
    "FROM events GROUP BY event_type, ts)"
)


def _events_clean(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events").select("event_type", "ts", "value")
    return C.resolve_duplicates(ev, KEY, "ts", "value")


def _us(col: str = "ts") -> F.Column:
    return F.unix_micros(F.col(col))


# --------------------------------------------------------------------------
# QC-domain queries (SURVEY §2 inventory ids in each docstring)
# --------------------------------------------------------------------------

def q_a1_dup_median(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A1: duplicate-timestamp resolution by group median."""
    d = _events_clean(spark, sf_dir)
    return d.select(
        "event_type", _us().alias("ts_us"), F.col("value").alias("value_med"), "dup_count"
    )


SQL_A1 = (
    "SELECT event_type, epoch_us(ts) AS ts_us, median(value) AS value_med, "
    "count(*) AS dup_count FROM events GROUP BY event_type, ts"
)


def q_a3_step_infer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A3: per-series sampling step = median positive successive diff."""
    d = _events_clean(spark, sf_dir)
    return C.infer_step(d, KEY, "ts")


SQL_A3 = f"""{ORACLE_CLEAN},
d AS (
  SELECT event_type,
         (epoch_us(ts) - lag(epoch_us(ts)) OVER (PARTITION BY event_type ORDER BY ts)) / 1e6 AS dt
  FROM clean
)
SELECT event_type,
       CASE WHEN count(*) >= 3 AND median(CASE WHEN dt > 0 THEN dt END) IS NOT NULL
            THEN median(CASE WHEN dt > 0 THEN dt END) ELSE 900.0 END AS step_seconds
FROM d GROUP BY event_type"""


def q_w1_jumps(spark: SparkSession, sf_dir: str) -> DataFrame:
    """W1: first-difference jump flag |diff| >= 100."""
    d = _events_clean(spark, sf_dir)
    d = W.with_diff(d, "value", KEY, "ts", out="diff")
    return d.filter(F.abs(F.col("diff")) >= 100.0).select(
        "event_type", _us().alias("ts_us"), "value", F.col("diff").alias("jump")
    )


SQL_W1 = f"""{ORACLE_CLEAN}
SELECT event_type, epoch_us(ts) AS ts_us, value, jump FROM (
  SELECT event_type, ts, value,
         value - lag(value) OVER (PARTITION BY event_type ORDER BY ts) AS jump
  FROM clean
) WHERE abs(jump) >= 100.0"""


def q_w2_gaps(spark: SparkSession, sf_dir: str) -> DataFrame:
    """W2: rows whose preceding time gap exceeds 1 hour."""
    d = _events_clean(spark, sf_dir)
    d = C.classify_gaps(d, KEY, "ts", max_gap_seconds=3600.0)
    return d.filter(F.col("is_gap")).select(
        "event_type", _us().alias("ts_us"), F.col("gap_seconds").alias("gap_s")
    )


SQL_W2 = f"""{ORACLE_CLEAN}
SELECT event_type, epoch_us(ts) AS ts_us, gap_s FROM (
  SELECT event_type, ts,
         (epoch_us(ts) - lag(epoch_us(ts)) OVER (PARTITION BY event_type ORDER BY ts)) / 1e6 AS gap_s
  FROM clean
) WHERE gap_s > 3600.0"""


def q_w5_flat_runs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """W5: flat-value runs (|x - prev| <= 1.0) lasting >= 0.5 h."""
    d = _events_clean(spark, sf_dir)
    ev = D.detect_flat_runs(d, "value", KEY, "ts", atol=1.0, min_hours=0.5)
    return ev.select(
        "event_type",
        F.unix_micros("start").alias("start_us"),
        F.unix_micros("end").alias("end_us"),
        "hours",
        F.col("value").alias("run_value"),
        "n_points",
    )


SQL_W5 = f"""{ORACLE_CLEAN},
lagd AS (
  SELECT event_type, ts, value,
         COALESCE(abs(value - lag(value) OVER w) <= 1.0, FALSE) AND value IS NOT NULL AS eq,
         lead(ts) OVER w AS next_ts
  FROM clean WINDOW w AS (PARTITION BY event_type ORDER BY ts)
),
isl AS (
  SELECT *, sum(CASE WHEN chg THEN 1 ELSE 0 END)
            OVER (PARTITION BY event_type ORDER BY ts ROWS UNBOUNDED PRECEDING) AS island
  FROM (
    SELECT *, lag(eq) OVER (PARTITION BY event_type ORDER BY ts) IS DISTINCT FROM eq AS chg
    FROM lagd
  )
),
runs AS (
  SELECT event_type, island,
         min(ts) AS start_ts, max(ts) AS last_ts,
         max(next_ts) AS after_ts,
         min_by(value, ts) AS run_value,
         count(*) AS n_points
  FROM isl WHERE eq GROUP BY event_type, island
)
SELECT event_type, epoch_us(start_ts) AS start_us,
       epoch_us(COALESCE(after_ts, last_ts)) AS end_us,
       (epoch_us(COALESCE(after_ts, last_ts)) - epoch_us(start_ts)) / 3.6e9 AS hours,
       run_value, n_points
FROM runs
WHERE (epoch_us(COALESCE(after_ts, last_ts)) - epoch_us(start_ts)) / 3.6e9 >= 0.5"""


def q_w7_rolling_var(spark: SparkSession, sf_dir: str) -> DataFrame:
    """W7: centered rolling sample variance (w=25, minp=8).

    Computed over exact integer cents (the data is 2-decimal) with the
    n·Σx² − (Σx)² closed form: the window sums are exact BIGINT
    arithmetic in both engines, so the final double division is
    bit-identical — no rounding tolerance needed (a float var_samp
    differs across engines in the last ulp and flips rounded digits).
    """
    d = _events_clean(spark, sf_dir)
    d = d.withColumn("_c", F.round(F.col("value") * 100).cast("long"))
    frame = W.centered(25, KEY, "ts")
    n = F.count("_c").over(frame)
    s1 = F.sum("_c").over(frame)
    s2 = F.sum(F.col("_c") * F.col("_c")).over(frame)
    var = F.when(
        n >= 8,
        (n * s2 - s1 * s1).cast("double") / (n * (n - 1)).cast("double") / F.lit(1e4),
    )
    return d.select("event_type", _us().alias("ts_us"), var.alias("roll_var"))


SQL_W7 = f"""{ORACLE_CLEAN},
c AS (SELECT event_type, ts, CAST(round(value * 100) AS BIGINT) AS c FROM clean)
SELECT event_type, epoch_us(ts) AS ts_us,
       CASE WHEN count(c) OVER w >= 8
            THEN CAST(count(c) OVER w * sum(c * c) OVER w - sum(c) OVER w * sum(c) OVER w AS DOUBLE)
                 / CAST(count(c) OVER w * (count(c) OVER w - 1) AS DOUBLE) / 1e4
       END AS roll_var
FROM c WINDOW w AS (PARTITION BY event_type ORDER BY ts ROWS BETWEEN 12 PRECEDING AND 12 FOLLOWING)"""


def q_w8_robust_z(spark: SparkSession, sf_dir: str) -> DataFrame:
    """W8: rolling robust z-score (w=25), flagged rows |z| >= 3."""
    d = _events_clean(spark, sf_dir)
    d = D.with_robust_z(d, "value", 25, KEY, "ts", out="z")
    return d.filter(F.abs(F.col("z")) >= 3.0).select(
        "event_type", _us().alias("ts_us"), "value", F.col("z").alias("robust_z")
    )


SQL_W8 = f"""{ORACLE_CLEAN},
med AS (
  SELECT event_type, ts, value,
         CASE WHEN count(value) OVER w >= 8 THEN median(value) OVER w END AS m
  FROM clean WINDOW w AS (PARTITION BY event_type ORDER BY ts ROWS BETWEEN 12 PRECEDING AND 12 FOLLOWING)
),
madt AS (
  SELECT event_type, ts, value, m,
         CASE WHEN count(abs(value - m)) OVER w >= 8 THEN median(abs(value - m)) OVER w END AS mad
  FROM med WINDOW w AS (PARTITION BY event_type ORDER BY ts ROWS BETWEEN 12 PRECEDING AND 12 FOLLOWING)
)
SELECT event_type, epoch_us(ts) AS ts_us, value,
       0.6745 * (value - m) / mad AS robust_z
FROM madt WHERE mad > 0 AND abs(0.6745 * (value - m) / mad) >= 3.0"""


def q_a4_decimal_hist(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A4: 10-bin histogram of fractional parts per series."""
    d = _events_clean(spark, sf_dir)
    return S.decimal_histogram(d, KEY, "value", nbins=10)


# np.linspace(0,1,11) edge values, verbatim — the reference bins with
# np.histogram over these (1-ulp artifacts at 0.3/0.6/0.7 included),
# so the oracle must compare against the same edges, not floor(f*10)
_A4_EDGES = [
    0.0, 0.1, 0.2, 0.30000000000000004, 0.4, 0.5,
    0.6000000000000001, 0.7000000000000001, 0.8, 0.9, 1.0,
]
_A4_BIN_SQL = "CASE " + " ".join(
    f"WHEN f < {_A4_EDGES[i]!r} THEN {i - 1}" for i in range(1, 10)
) + " ELSE 9 END"

SQL_A4 = f"""{ORACLE_CLEAN},
fr AS (
  SELECT event_type, (value - floor(value)) % 1.0 AS f
  FROM clean WHERE value IS NOT NULL
)
SELECT event_type, {_A4_BIN_SQL} AS bin, count(*) AS bin_count
FROM fr GROUP BY 1, 2"""


def q_a5_mode_cents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A5: modal 2-decimal fraction + its share per series."""
    d = _events_clean(spark, sf_dir)
    return S.dominant_decimals(d, KEY, "value")


SQL_A5 = f"""{ORACLE_CLEAN},
cents AS (
  SELECT event_type, CAST(round((value - floor(value)) * 100) AS INT) AS cents
  FROM clean WHERE value IS NOT NULL
),
counts AS (
  SELECT event_type, cents, count(*) AS cnt FROM cents GROUP BY 1, 2
),
ranked AS (
  SELECT event_type, cents, cnt,
         sum(cnt) OVER (PARTITION BY event_type) AS total,
         row_number() OVER (PARTITION BY event_type ORDER BY cnt DESC, cents ASC) AS rn
  FROM counts
)
SELECT event_type, cents AS mode_cents, round(cnt / total, 4) AS mode_frac,
       cnt / total >= 0.6 AS dominant
FROM ranked WHERE rn = 1"""


def q_a6_diff_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A6, both halves in one driver row: quantiles of positive
    |successive diff| (candidate steps) PLUS the quantization-step
    score of the median cents-diff candidate (share of positive diffs
    that are integer multiples, atol 1e-3) — reference
    quant_step_estimate, scripts/ufz_water_qc_pipeline.py:129-142."""
    q = S.diff_quantiles(_events_clean(spark, sf_dir), KEY, "ts", "value")
    step = q_a6_quant_step(spark, sf_dir).withColumnRenamed("score", "step_score")
    return q.join(step, "event_type")


SQL_A6 = f"""{ORACLE_CLEAN},
d AS (
  SELECT event_type,
         abs(value - lag(value) OVER (PARTITION BY event_type ORDER BY ts)) AS absdiff
  FROM clean
),
quants AS (
  SELECT event_type,
         round(quantile_cont(absdiff, 0.10), 6) AS q10,
         round(quantile_cont(absdiff, 0.25), 6) AS q25,
         round(quantile_cont(absdiff, 0.50), 6) AS q50,
         round(quantile_cont(absdiff, 0.75), 6) AS q75,
         round(quantile_cont(absdiff, 0.90), 6) AS q90
  FROM d WHERE absdiff > 0 GROUP BY event_type
),
cd AS (
  SELECT event_type,
         abs(CAST(round(value * 100) AS BIGINT)
             - lag(CAST(round(value * 100) AS BIGINT)) OVER (PARTITION BY event_type ORDER BY ts)) AS dc
  FROM clean
),
pos AS (SELECT * FROM cd WHERE dc > 0),
med AS (SELECT event_type, quantile_cont(dc, 0.5) AS cand_cents FROM pos GROUP BY event_type),
step AS (
  SELECT p.event_type, m.cand_cents,
         round(avg(CASE WHEN abs(p.dc / m.cand_cents - round(p.dc / m.cand_cents)) < 1e-3
                        THEN 1.0 ELSE 0.0 END), 4) AS step_score,
         count(*) AS n_diffs
  FROM pos p JOIN med m USING (event_type)
  GROUP BY p.event_type, m.cand_cents
)
SELECT quants.*, step.cand_cents, step.step_score, step.n_diffs
FROM quants JOIN step USING (event_type)"""


def q_a8_global_robust_z(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A8: global median/MAD robust z, spikes |z| >= 3."""
    d = _events_clean(spark, sf_dir)
    out = S.global_robust_z(d, KEY, "value", thresh=3.0)
    return out.select("event_type", _us().alias("ts_us"), "value", "robust_z")


SQL_A8 = f"""{ORACLE_CLEAN},
med AS (SELECT event_type, median(value) AS m FROM clean GROUP BY event_type),
mad AS (
  SELECT c.event_type, median(abs(c.value - med.m)) AS mad
  FROM clean c JOIN med USING (event_type) GROUP BY c.event_type
)
SELECT c.event_type, epoch_us(c.ts) AS ts_us, c.value,
       (c.value - med.m) / (1.4826 * mad.mad) AS robust_z
FROM clean c JOIN med USING (event_type) JOIN mad USING (event_type)
WHERE mad.mad > 0 AND abs((c.value - med.m) / (1.4826 * mad.mad)) >= 3.0"""


def q_a7_seasonal(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A7+P9: per-season coverage/nan stats (events span one season —
    the oracle still checks the algebra end-to-end)."""
    d = _events_clean(spark, sf_dir)
    return S.seasonal_stats(d, KEY, "ts", "value", step_seconds=900.0)


SQL_A7 = f"""{ORACLE_CLEAN}
SELECT event_type,
       CASE WHEN month(ts) IN (12, 1, 2) THEN 'DJF'
            WHEN month(ts) IN (3, 4, 5) THEN 'MAM'
            WHEN month(ts) IN (6, 7, 8) THEN 'JJA'
            ELSE 'SON' END AS season,
       count(*) AS n_rows,
       round(count(value) / greatest(1, CAST(round((epoch_us(max(ts)) - epoch_us(min(ts))) / (900.0 * 1e6) + 1.0) AS BIGINT)) * 100.0, 4) AS coverage_pct,
       round((count(*) - count(value)) / count(*) * 100.0, 4) AS nan_pct
FROM clean GROUP BY 1, 2"""


def q_w17_resample_hourly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """W17: resample to 1h buckets by median (tumbling window)."""
    d = _events_clean(spark, sf_dir)
    return d.groupBy(
        "event_type", F.date_trunc("hour", F.col("ts")).alias("bucket")
    ).agg(
        F.median("value").alias("value_med"), F.count(F.lit(1)).alias("n")
    ).select("event_type", F.unix_micros("bucket").alias("bucket_us"), "value_med", "n")


SQL_W17 = f"""{ORACLE_CLEAN}
SELECT event_type, epoch_us(date_trunc('hour', ts)) AS bucket_us,
       median(value) AS value_med, count(*) AS n
FROM clean GROUP BY 1, 2"""


# --- W4: binary-switch (low-run) events ------------------------------------
# events.value has no exact zeros; the run predicate is value <= 5.0
# (same detector, nonzero tolerance), which fires on real data.

def q_w4_binary_switches(spark: SparkSession, sf_dir: str) -> DataFrame:
    """W4: runs of value <= 5.0 with neighboring values; event when
    both (edge-clamped) neighbors are finite and either is above the
    tolerance."""
    d = _events_clean(spark, sf_dir)
    ev = D.detect_binary_switches(d, "value", KEY, "ts", tol=5.0)
    return ev.select(
        "event_type",
        F.unix_micros("start").alias("start_us"),
        F.unix_micros("end").alias("end_us"),
        F.unix_micros("pre").alias("pre_us"),
        F.unix_micros("post").alias("post_us"),
        "pre_val",
        "post_val",
        "n_points",
    )


SQL_W4 = f"""{ORACLE_CLEAN},
lagd AS (
  SELECT event_type, ts, value,
         value IS NOT NULL AND abs(value) <= 5.0 AS in_run,
         lag(ts) OVER w AS prev_ts, lead(ts) OVER w AS next_ts,
         lag(value) OVER w AS prev_val, lead(value) OVER w AS next_val
  FROM clean WINDOW w AS (PARTITION BY event_type ORDER BY ts)
),
isl AS (
  SELECT *, sum(CASE WHEN chg THEN 1 ELSE 0 END)
            OVER (PARTITION BY event_type ORDER BY ts ROWS UNBOUNDED PRECEDING) AS island
  FROM (SELECT *, lag(in_run) OVER (PARTITION BY event_type ORDER BY ts)
               IS DISTINCT FROM in_run AS chg FROM lagd)
),
runs AS (
  -- struct-wrapped min_by/max_by: DuckDB's arg_min/arg_max skip NULL
  -- args, but a struct containing NULL fields is itself non-NULL, so
  -- boundary NULLs (series start/end) survive like Spark's min_by.
  SELECT event_type, island, min(ts) AS start_ts, max(ts) AS end_ts,
         min_by({{'t': prev_ts, 'v': prev_val}}, ts) AS pre_s,
         max_by({{'t': next_ts, 'v': next_val}}, ts) AS post_s,
         min_by(value, ts) AS first_val, max_by(value, ts) AS last_val,
         count(*) AS n_points
  FROM isl WHERE in_run GROUP BY event_type, island
),
clamped AS (
  -- series-edge clamp: missing neighbor row -> the run's own endpoint
  SELECT event_type, start_ts, end_ts, n_points,
         COALESCE(pre_s.t, start_ts) AS pre_ts,
         COALESCE(post_s.t, end_ts) AS post_ts,
         CASE WHEN pre_s.t IS NULL THEN first_val ELSE pre_s.v END AS pre_val,
         CASE WHEN post_s.t IS NULL THEN last_val ELSE post_s.v END AS post_val
  FROM runs
)
SELECT event_type, epoch_us(start_ts) AS start_us, epoch_us(end_ts) AS end_us,
       epoch_us(pre_ts) AS pre_us, epoch_us(post_ts) AS post_us,
       pre_val, post_val, n_points
FROM clamped
WHERE pre_val IS NOT NULL AND post_val IS NOT NULL
  AND (abs(pre_val) > 5.0 OR abs(post_val) > 5.0)"""


# --- W6: rolling OLS slope over integer (seconds, cents) -------------------

_T0 = 1_700_000_000  # epoch-seconds origin near the data; slope invariant


def q_w6_flat_slopes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """W6: centered rolling OLS slope (w=25, minp=5) via the exact
    integer closed form; emit near-flat rows |slope| <= 2e-4."""
    d = _events_clean(spark, sf_dir)
    d = d.withColumn("_c", F.round(F.col("value") * 100).cast("long")).withColumn(
        "_t", (F.unix_micros("ts") / F.lit(1_000_000)).cast("long") - F.lit(_T0)
    )
    frame = W.centered(25, KEY, "ts")
    tobs = F.when(F.col("_c").isNotNull(), F.col("_t"))
    n = F.count("_c").over(frame)
    st = F.sum(tobs).over(frame)
    sy = F.sum("_c").over(frame)
    sty = F.sum(tobs * F.col("_c")).over(frame)
    stt = F.sum(tobs * tobs).over(frame)
    num = (n * sty - st * sy).cast("double")
    den = (n * stt - st * st).cast("double")
    slope = F.when((n >= 5) & (den != 0), num / den / F.lit(100.0))
    d = d.withColumn("slope", slope)
    return d.filter(F.abs(F.col("slope")) <= 2e-4).select(
        "event_type", _us().alias("ts_us"), "slope"
    )


SQL_W6 = f"""{ORACLE_CLEAN},
c AS (
  SELECT event_type, ts,
         CAST(round(value * 100) AS BIGINT) AS c,
         epoch_us(ts) // 1000000 - {_T0} AS t
  FROM clean
),
s AS (
  SELECT event_type, ts,
         count(c) OVER w AS n, sum(t) OVER w AS st, sum(c) OVER w AS sy,
         sum(t * c) OVER w AS sty, sum(t * t) OVER w AS stt
  FROM c WINDOW w AS (PARTITION BY event_type ORDER BY ts ROWS BETWEEN 12 PRECEDING AND 12 FOLLOWING)
)
SELECT event_type, epoch_us(ts) AS ts_us,
       CAST(n * sty - st * sy AS DOUBLE) / CAST(n * stt - st * st AS DOUBLE) / 100.0 AS slope
FROM s
WHERE n >= 5 AND n * stt - st * st <> 0
  AND abs(CAST(n * sty - st * sy AS DOUBLE) / CAST(n * stt - st * st AS DOUBLE) / 100.0) <= 2e-4"""


# --- W9: isolated groups ----------------------------------------------------

def q_w9_isolated(spark: SparkSession, sf_dir: str) -> DataFrame:
    """W9: sparsify (value < 200 -> NULL), then flag finite runs of
    <= 2 points with > 30 min time gap to the neighboring rows on
    both sides."""
    d = _events_clean(spark, sf_dir)
    d = d.withColumn("value", F.when(F.col("value") >= 200.0, F.col("value")))
    out = D.detect_isolated_groups(
        d, "value", KEY, "ts", max_group_points=2, min_gap_seconds=1800.0
    )
    return out.filter(F.col("flag_isolated")).select(
        "event_type", _us().alias("ts_us"), "value"
    )


SQL_W9 = f"""{ORACLE_CLEAN},
sp AS (
  SELECT event_type, ts, CASE WHEN value >= 200.0 THEN value END AS value
  FROM clean
),
fin AS (
  SELECT *, value IS NOT NULL AS is_fin,
         lag(ts) OVER w AS prev_ts, lead(ts) OVER w AS next_ts
  FROM sp WINDOW w AS (PARTITION BY event_type ORDER BY ts)
),
isl AS (
  SELECT *, sum(CASE WHEN chg THEN 1 ELSE 0 END)
            OVER (PARTITION BY event_type ORDER BY ts ROWS UNBOUNDED PRECEDING) AS island
  FROM (SELECT *, lag(is_fin) OVER (PARTITION BY event_type ORDER BY ts)
               IS DISTINCT FROM is_fin AS chg FROM fin)
),
groups AS (
  SELECT event_type, island, count(*) AS npts,
         min(ts) AS first_ts, max(ts) AS last_ts,
         min_by({{'t': prev_ts}}, ts).t AS before_ts,
         max_by({{'t': next_ts}}, ts).t AS after_ts
  FROM isl WHERE is_fin GROUP BY event_type, island
),
flagged AS (
  SELECT event_type, island,
         npts <= 2
         AND before_ts IS NOT NULL
         AND (epoch_us(first_ts) - epoch_us(before_ts)) / 1e6 > 1800.0
         AND after_ts IS NOT NULL
         AND (epoch_us(after_ts) - epoch_us(last_ts)) / 1e6 > 1800.0 AS isolated
  FROM groups
)
SELECT i.event_type, epoch_us(i.ts) AS ts_us, i.value
FROM isl i JOIN flagged f ON i.event_type = f.event_type AND i.island = f.island
WHERE i.is_fin AND f.isolated"""


# --- A2: sentinel masking (sentinels synthesized from event_id) ------------

def q_a2_sentinels(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A2: inject sentinels (-9999 at event_id%97==0, -9 at %131==0,
    -99 at %5003==0 — the last stays under both activation thresholds
    and must NOT be masked), then run two-pass masking; report per-key
    mask counts."""
    ev = load_table(spark, sf_dir, "events").select("event_type", "event_id", "value")
    v = (
        F.when(F.col("event_id") % 97 == 0, -9999.0)
        .when(F.col("event_id") % 131 == 0, -9.0)
        .when(F.col("event_id") % 5003 == 0, -99.0)
        .otherwise(F.col("value"))
    )
    d = ev.withColumn("value", v)
    masked = C.mask_sentinels(d, KEY, "value", min_count=5, min_frac=0.001)
    return masked.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.sum(F.col("value").isNull().cast("int")).alias("n_masked"),
        F.sum((F.col("value") == -99.0).cast("int")).alias("n_unmasked_99"),
    )


SQL_A2 = """
WITH inj AS (
  SELECT event_type,
         CASE WHEN event_id % 97 = 0 THEN -9999.0
              WHEN event_id % 131 = 0 THEN -9.0
              WHEN event_id % 5003 = 0 THEN -99.0
              ELSE value END AS value
  FROM events
),
cnt AS (
  SELECT event_type, count(*) AS n,
         sum(CASE WHEN value = -9.0 THEN 1 ELSE 0 END) AS c9,
         sum(CASE WHEN value = -99.0 THEN 1 ELSE 0 END) AS c99,
         sum(CASE WHEN value = -999.0 THEN 1 ELSE 0 END) AS c999,
         sum(CASE WHEN value = -9999.0 THEN 1 ELSE 0 END) AS c9999
  FROM inj GROUP BY event_type
),
msk AS (
  SELECT i.event_type,
         CASE WHEN (i.value = -9.0 AND (c.c9 >= 5 OR c.c9 / c.n >= 0.001))
                OR (i.value = -99.0 AND (c.c99 >= 5 OR c.c99 / c.n >= 0.001))
                OR (i.value = -999.0 AND (c.c999 >= 5 OR c.c999 / c.n >= 0.001))
                OR (i.value = -9999.0 AND (c.c9999 >= 5 OR c.c9999 / c.n >= 0.001))
              THEN NULL ELSE i.value END AS value
  FROM inj i JOIN cnt c USING (event_type)
)
SELECT event_type, count(*) AS n_rows,
       CAST(sum(CASE WHEN value IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_masked,
       CAST(sum(CASE WHEN value = -99.0 THEN 1 ELSE 0 END) AS BIGINT) AS n_unmasked_99
FROM msk GROUP BY event_type"""


# --- A6 second half: quantization-step scoring -----------------------------

def q_a6_quant_step(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A6: score the median |diff| as a quantization-step candidate:
    share of positive diffs that are integer multiples (atol 1e-3).
    Exact-cents diffs make the ratio test deterministic."""
    d = _events_clean(spark, sf_dir)
    d = d.withColumn("_c", F.round(F.col("value") * 100).cast("long"))
    w = W.ordered(KEY, "ts")
    d = d.withColumn("_dc", F.abs(F.col("_c") - F.lag("_c").over(w)))
    pos = d.filter(F.col("_dc") > 0)
    med = pos.groupBy(*KEY).agg(
        F.percentile(F.col("_dc"), F.lit(0.5)).alias("cand_cents")
    )
    j = pos.join(F.broadcast(med), on=KEY)
    ratio = F.col("_dc") / F.col("cand_cents")
    hit = (F.abs(ratio - F.round(ratio)) < 1e-3).cast("double")
    return j.groupBy("event_type", "cand_cents").agg(
        F.round(F.avg(hit), 4).alias("score"),
        F.count(F.lit(1)).alias("n_diffs"),
    )


SQL_A6B = f"""{ORACLE_CLEAN},
c AS (SELECT event_type, ts, CAST(round(value * 100) AS BIGINT) AS c FROM clean),
d AS (
  SELECT event_type,
         abs(c - lag(c) OVER (PARTITION BY event_type ORDER BY ts)) AS dc
  FROM c
),
pos AS (SELECT * FROM d WHERE dc > 0),
med AS (SELECT event_type, quantile_cont(dc, 0.5) AS cand_cents FROM pos GROUP BY event_type)
SELECT p.event_type, m.cand_cents,
       round(avg(CASE WHEN abs(p.dc / m.cand_cents - round(p.dc / m.cand_cents)) < 1e-3
                      THEN 1.0 ELSE 0.0 END), 4) AS score,
       count(*) AS n_diffs
FROM pos p JOIN med m USING (event_type)
GROUP BY p.event_type, m.cand_cents"""


# --- W12+W14: SentemQC band pass (cents-exact) -----------------------------

def q_w12_bands(spark: SparkSession, sf_dir: str) -> DataFrame:
    """W12+W14+W15: one band pass (w=48 even -> pandas left-heavy
    frame, minp=15, sf=3, 10% uncertainty envelope). Mean/std via
    exact integer sums; flag 200 where the envelope clears a band.
    The W15 band-support mask (scripts/sentemqc.py:105-107) is the
    same rolling finite-count that gates ma/sd — emitted explicitly
    as (support, band_ok) so the driver row checks all three ops."""
    d = _events_clean(spark, sf_dir)
    d = d.withColumn("_c", F.round(F.col("value") * 100).cast("long"))
    frame = W.centered(48, KEY, "ts")  # rows [-24, +23]
    n = F.count("_c").over(frame)
    s1 = F.sum("_c").over(frame)
    s2 = F.sum(F.col("_c") * F.col("_c")).over(frame)
    ma = s1.cast("double") / n.cast("double") / F.lit(100.0)
    sd = (
        F.sqrt((n * s2 - s1 * s1).cast("double")) / n.cast("double") / F.lit(100.0)
    )
    ok = n >= 15
    d = (
        d.withColumn("support", n)
        .withColumn("band_ok", ok)
        .withColumn("ma", F.when(ok, ma))
        .withColumn("sd", F.when(ok, sd))
    )
    top = F.col("ma") + F.lit(3.0) * F.col("sd")
    bottom = F.col("ma") - F.lit(3.0) * F.col("sd")
    hi, lo = F.col("value") * 1.1, F.col("value") * 0.9
    flagged = F.coalesce(((hi > top) & (lo > top)) | ((hi < bottom) & (lo < bottom)), F.lit(False))
    flag = F.when(flagged, 200).otherwise(100)
    return d.select(
        "event_type",
        _us().alias("ts_us"),
        "support",
        "band_ok",
        "ma",
        "sd",
        flag.alias("flag_band"),
    )


SQL_W12 = f"""{ORACLE_CLEAN},
c AS (SELECT event_type, ts, value, CAST(round(value * 100) AS BIGINT) AS c FROM clean),
s AS (
  SELECT event_type, ts, value,
         count(c) OVER w AS n, sum(c) OVER w AS s1, sum(c * c) OVER w AS s2
  FROM c WINDOW w AS (PARTITION BY event_type ORDER BY ts ROWS BETWEEN 24 PRECEDING AND 23 FOLLOWING)
),
b AS (
  SELECT event_type, ts, value, n AS support, n >= 15 AS band_ok,
         CASE WHEN n >= 15 THEN CAST(s1 AS DOUBLE) / CAST(n AS DOUBLE) / 100.0 END AS ma,
         CASE WHEN n >= 15 THEN sqrt(CAST(n * s2 - s1 * s1 AS DOUBLE)) / CAST(n AS DOUBLE) / 100.0 END AS sd
  FROM s
)
SELECT event_type, epoch_us(ts) AS ts_us, support, band_ok, ma, sd,
       CASE WHEN COALESCE((value * 1.1 > ma + 3.0 * sd AND value * 0.9 > ma + 3.0 * sd)
                       OR (value * 1.1 < ma - 3.0 * sd AND value * 0.9 < ma - 3.0 * sd), FALSE)
            THEN 200 ELSE 100 END AS flag_band
FROM b"""


# --- W13: triangular 5-point weighted mean/std (expression tree) -----------

def q_w13_tri5(spark: SparkSession, sf_dir: str) -> DataFrame:
    """W13: tri5 weighted mean/std through the library's tap algebra —
    a fixed expression tree is bit-deterministic cross-engine."""
    d = _events_clean(spark, sf_dir)
    d = SM.tri5_mean_std(d, "value", KEY, "ts", ma_col="tri_ma", sd_col="tri_sd")
    return d.select("event_type", _us().alias("ts_us"), "tri_ma", "tri_sd")


SQL_W13 = f"""{ORACLE_CLEAN},
t AS (
  SELECT event_type, ts,
         lag(value, 2) OVER w AS a, lag(value, 1) OVER w AS b, value AS x,
         lead(value, 1) OVER w AS d, lead(value, 2) OVER w AS e
  FROM clean WINDOW w AS (PARTITION BY event_type ORDER BY ts)
),
s AS (
  SELECT event_type, ts,
         (CASE WHEN a IS NOT NULL THEN 1 ELSE 0 END) + (CASE WHEN b IS NOT NULL THEN 1 ELSE 0 END)
         + (CASE WHEN x IS NOT NULL THEN 1 ELSE 0 END) + (CASE WHEN d IS NOT NULL THEN 1 ELSE 0 END)
         + (CASE WHEN e IS NOT NULL THEN 1 ELSE 0 END) AS nfin,
         0.0 + (CASE WHEN a IS NOT NULL THEN 1.0 ELSE 0.0 END) + (CASE WHEN b IS NOT NULL THEN 2.0 ELSE 0.0 END)
             + (CASE WHEN x IS NOT NULL THEN 3.0 ELSE 0.0 END) + (CASE WHEN d IS NOT NULL THEN 2.0 ELSE 0.0 END)
             + (CASE WHEN e IS NOT NULL THEN 1.0 ELSE 0.0 END) AS wsum,
         0.0 + COALESCE(a, 0.0) * 1.0 + COALESCE(b, 0.0) * 2.0 + COALESCE(x, 0.0) * 3.0
             + COALESCE(d, 0.0) * 2.0 + COALESCE(e, 0.0) * 1.0 AS sx,
         0.0 + COALESCE(a, 0.0) * COALESCE(a, 0.0) * 1.0 + COALESCE(b, 0.0) * COALESCE(b, 0.0) * 2.0
             + COALESCE(x, 0.0) * COALESCE(x, 0.0) * 3.0 + COALESCE(d, 0.0) * COALESCE(d, 0.0) * 2.0
             + COALESCE(e, 0.0) * COALESCE(e, 0.0) * 1.0 AS sxx
  FROM t
)
SELECT event_type, epoch_us(ts) AS ts_us,
       CASE WHEN nfin >= 3 THEN sx / wsum END AS tri_ma,
       CASE WHEN nfin >= 3 THEN sqrt(greatest(sxx / wsum - (sx / wsum) * (sx / wsum), 0.0)) END AS tri_sd
FROM s"""


# --- P11-P13 + P15: sensor flags, combine, reasons, accepted ---------------

def q_sentem_flags(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P11+P12+P13+P15: per-code sensor rules (code derived from
    event_type deterministically), any-of combine, space-joined
    reasons, masked value."""
    d = _events_clean(spark, sf_dir)
    # deterministic per-key sensor code: errors behave like code 410
    # (pH-style bounds), others like 400 (O2-style); value scaled into
    # the rule range so the rules actually fire. No rounding: a pure
    # division is bit-deterministic, a decimal round can straddle the
    # .5 boundary differently across engines.
    d = d.withColumn("obs", F.col("value") / 10.0)
    f_sensor = F.when(
        F.col("event_type").isin("error", "signup"),
        SM.sensor_error_flag("obs", 410),
    ).otherwise(SM.sensor_error_flag("obs", 400))
    d = d.withColumn("flag_sensor", f_sensor)
    d = d.withColumn(
        "flag_range",
        F.when(F.coalesce((F.col("obs") < 0.5) | (F.col("obs") > 30.0), F.lit(True)), 200).otherwise(100),
    )
    d = d.withColumn(
        "flag_global", SM.combine_flags_200(F.col("flag_sensor"), F.col("flag_range"))
    )
    d = d.withColumn(
        "flag_reason",
        SM.flag_reasons(
            {"flag_sensor": F.col("flag_sensor"), "flag_range": F.col("flag_range")}
        ),
    )
    d = d.withColumn(
        "value_masked", F.when(F.col("flag_global") == 200, None).otherwise(F.col("obs"))
    )
    return d.select(
        "event_type", _us().alias("ts_us"), "obs",
        "flag_sensor", "flag_range", "flag_global", "flag_reason", "value_masked",
    )


SQL_SENTEM_FLAGS = f"""{ORACLE_CLEAN},
o AS (SELECT event_type, ts, value / 10.0 AS obs FROM clean),
fl AS (
  SELECT event_type, ts, obs,
         CASE WHEN event_type IN ('error', 'signup')
              THEN CASE WHEN obs IS NULL OR obs = 0.0 OR obs >= 13.0 OR obs < 0.0 THEN 200 ELSE 100 END
              ELSE CASE WHEN obs IS NULL OR obs IN (30.0, 25.0, 0.0) OR obs >= 40.0 THEN 200 ELSE 100 END
         END AS flag_sensor,
         CASE WHEN COALESCE(obs < 0.5 OR obs > 30.0, TRUE) THEN 200 ELSE 100 END AS flag_range
  FROM o
)
SELECT event_type, epoch_us(ts) AS ts_us, obs, flag_sensor, flag_range,
       CASE WHEN greatest(flag_sensor, flag_range) = 200 THEN 200 ELSE 100 END AS flag_global,
       trim(concat_ws(' ', CASE WHEN flag_sensor = 200 THEN 'flag_sensor' END,
                           CASE WHEN flag_range = 200 THEN 'flag_range' END)) AS flag_reason,
       CASE WHEN greatest(flag_sensor, flag_range) = 200 THEN NULL ELSE obs END AS value_masked
FROM fl"""


# --- P7/P14/P15: full fallback flag suite -> 0/255 + accepted --------------

def q_qc_accepted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """apply_saqc_suite fallback assembly (reference
    scripts/ufz_water_qc_pipeline.py:459-589): range + jumps + robust-z
    flags OR-combined to 0/255; accepted = value where unflagged (P15).
    Summarized per key (full row set is covered by the component
    queries)."""
    d = _events_clean(spark, sf_dir)
    d = D.flag_robust_z(d, "value", 25, 3.5, KEY, "ts", out="f_z")
    d = d.withColumn("f_range", D.flag_range("value", 1.0, 480.0))
    d = d.withColumn("f_jump", D.flag_jumps("value", 200.0, KEY, "ts"))
    combined = D.merge_flags(F.col("f_range"), F.col("f_jump"), F.col("f_z"))
    d = d.withColumn("flag_code", D.flags_to_code(combined))
    d = d.withColumn("accepted", F.when(combined, None).otherwise(F.col("value")))
    return d.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.sum((F.col("flag_code") == 255).cast("int")).alias("n_flagged"),
        F.sum(F.col("f_range").cast("int")).alias("n_range"),
        F.sum(F.col("f_jump").cast("int")).alias("n_jump"),
        F.sum(F.col("f_z").cast("int")).alias("n_z"),
        F.count("accepted").alias("n_accepted"),
    )


SQL_QC_ACCEPTED = f"""{ORACLE_CLEAN},
med AS (
  SELECT event_type, ts, value,
         CASE WHEN count(value) OVER w >= 8 THEN median(value) OVER w END AS m
  FROM clean WINDOW w AS (PARTITION BY event_type ORDER BY ts ROWS BETWEEN 12 PRECEDING AND 12 FOLLOWING)
),
madt AS (
  SELECT event_type, ts, value, m,
         CASE WHEN count(abs(value - m)) OVER w >= 8 THEN median(abs(value - m)) OVER w END AS mad
  FROM med WINDOW w AS (PARTITION BY event_type ORDER BY ts ROWS BETWEEN 12 PRECEDING AND 12 FOLLOWING)
),
fl AS (
  SELECT event_type, ts, value,
         COALESCE(CASE WHEN mad > 0 THEN abs(0.6745 * (value - m) / mad) >= 3.5 END, FALSE) AS f_z,
         COALESCE(value < 1.0 OR value > 480.0, FALSE) AS f_range,
         COALESCE(abs(value - lag(value) OVER (PARTITION BY event_type ORDER BY ts)) >= 200.0, FALSE) AS f_jump
  FROM madt
)
SELECT event_type, count(*) AS n_rows,
       CAST(sum(CASE WHEN f_range OR f_jump OR f_z THEN 1 ELSE 0 END) AS BIGINT) AS n_flagged,
       CAST(sum(CASE WHEN f_range THEN 1 ELSE 0 END) AS BIGINT) AS n_range,
       CAST(sum(CASE WHEN f_jump THEN 1 ELSE 0 END) AS BIGINT) AS n_jump,
       CAST(sum(CASE WHEN f_z THEN 1 ELSE 0 END) AS BIGINT) AS n_z,
       count(CASE WHEN NOT (f_range OR f_jump OR f_z) THEN value END) AS n_accepted
FROM fl GROUP BY event_type"""


# --- As-of join -------------------------------------------------------------

def q_asof_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of join (union+window): each 'error' event matched to the
    latest prior 'purchase' of the same user. Spark has no native
    ASOF JOIN; DuckDB's ASOF LEFT JOIN is the oracle."""
    ev = load_table(spark, sf_dir, "events")
    left = ev.filter(F.col("event_type") == "error").select("user_id", "ts", "event_id", "value")
    right = ev.filter(F.col("event_type") == "purchase").select("user_id", "ts", "value")
    j = asof_join_backward(
        left, right, on=["user_id"], right_value_cols=["value"]
    )
    return j.select(
        "user_id",
        "event_id",
        F.unix_micros("ts").alias("ts_us"),
        "value",
        F.col("matched_value").alias("purchase_value"),
        F.unix_micros("matched_ts").alias("purchase_ts_us"),
    )


SQL_ASOF = """
WITH l AS (SELECT user_id, ts, event_id, value FROM events WHERE event_type = 'error'),
r AS (SELECT user_id, ts, value FROM events WHERE event_type = 'purchase')
SELECT l.user_id, l.event_id, epoch_us(l.ts) AS ts_us, l.value,
       r.value AS purchase_value, epoch_us(r.ts) AS purchase_ts_us
FROM l ASOF LEFT JOIN r ON l.user_id = r.user_id AND l.ts >= r.ts"""


# --- W16: Gaussian smooth + residual ---------------------------------------

def q_w16_gaussian(spark: SparkSession, sf_dir: str) -> DataFrame:
    """W16: sparsify (value<5 -> NULL), forward/back-fill, Gaussian
    kernel smooth (sigma=2 pts, +-4 taps, renormalized over non-null
    taps), residual = filled - smooth — ``windows.gaussian_smooth``,
    the operator the QC figures use (reference plot_gaussian_compare,
    scripts/ufz_water_qc_pipeline.py:371-389)."""
    d = _events_clean(spark, sf_dir)
    d = d.withColumn("v", F.when(F.col("value") >= 5.0, F.col("value")))
    g = W.gaussian_smooth(d, "v", KEY)
    # round to 6 decimals (data resolution 0.01; cross-engine tap
    # accumulation differs by ~1 ulp at 1e-14 relative — 6-decimal
    # rounding absorbs it with 1e8 margin)
    return g.select(
        "event_type",
        F.unix_micros("ts").alias("ts_us"),
        "filled",
        F.round("smooth", 6).alias("smooth"),
        F.round("residual", 6).alias("residual"),
    )


def _w16_sql() -> str:
    num_terms, den_terms = [], []
    for k in range(-W.GAUSS_TAPS, W.GAUSS_TAPS + 1):
        wt = repr(W.GAUSS_WEIGHTS[k + W.GAUSS_TAPS])
        tap = (
            "filled"
            if k == 0
            else (f"lag(filled, {-k}) OVER w" if k < 0 else f"lead(filled, {k}) OVER w")
        )
        num_terms.append(f"COALESCE({tap}, 0.0) * {wt}")
        den_terms.append(f"(CASE WHEN {tap} IS NOT NULL THEN {wt} ELSE 0.0 END)")
    num = " + ".join(num_terms)
    den = " + ".join(den_terms)
    return f"""{ORACLE_CLEAN},
sp AS (SELECT event_type, ts, CASE WHEN value >= 5.0 THEN value END AS v FROM clean),
fill AS (
  SELECT event_type, ts,
         COALESCE(
           last_value(v IGNORE NULLS) OVER (PARTITION BY event_type ORDER BY ts ROWS UNBOUNDED PRECEDING),
           first_value(v IGNORE NULLS) OVER (PARTITION BY event_type ORDER BY ts
                                             ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING)
         ) AS filled
  FROM sp
),
sm AS (
  SELECT event_type, ts, filled,
         CASE WHEN 0.0 + {den} > 0 THEN (0.0 + {num}) / (0.0 + {den}) END AS smooth
  FROM fill WINDOW w AS (PARTITION BY event_type ORDER BY ts)
)
SELECT event_type, epoch_us(ts) AS ts_us, filled,
       round(smooth, 6) AS smooth, round(filled - smooth, 6) AS residual
FROM sm"""


SQL_W16 = _w16_sql()


# --- J3: interval containment (runs -> mask) -------------------------------

def q_j3_range_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J3: mark rows inside flat-run intervals (reference
    _mask_from_runs, scripts/ufz_water_qc_pipeline.py:392-397) via a
    broadcast range join; per-key counts of in-run rows."""
    d = _events_clean(spark, sf_dir)
    # runs derives FROM d: rename its join columns so the self-join
    # predicate can't resolve both sides to the same attribute
    # (otherwise Spark warns 'trivially true equals predicate' and
    # correctness hangs on dataset-id disambiguation)
    runs = D.detect_flat_runs(d, "value", KEY, "ts", atol=1.0, min_hours=0.5).select(
        F.col("event_type").alias("r_type"),
        F.col("start").alias("r_start"),
        F.col("end").alias("r_end"),
    )
    joined = d.join(
        F.broadcast(runs),
        on=[
            F.col("event_type") == F.col("r_type"),
            F.col("ts") >= F.col("r_start"),
            F.col("ts") <= F.col("r_end"),
        ],
        how="leftsemi",
    )
    return joined.groupBy("event_type").agg(F.count(F.lit(1)).alias("n_in_run"))


SQL_J3 = f"""{ORACLE_CLEAN},
lagd AS (
  SELECT event_type, ts, value,
         COALESCE(abs(value - lag(value) OVER w) <= 1.0, FALSE) AND value IS NOT NULL AS eq,
         lead(ts) OVER w AS next_ts
  FROM clean WINDOW w AS (PARTITION BY event_type ORDER BY ts)
),
isl AS (
  SELECT *, sum(CASE WHEN chg THEN 1 ELSE 0 END)
            OVER (PARTITION BY event_type ORDER BY ts ROWS UNBOUNDED PRECEDING) AS island
  FROM (SELECT *, lag(eq) OVER (PARTITION BY event_type ORDER BY ts)
               IS DISTINCT FROM eq AS chg FROM lagd)
),
runs AS (
  SELECT event_type, min(ts) AS start_ts,
         COALESCE(max(next_ts), max(ts)) AS end_ts
  FROM isl WHERE eq GROUP BY event_type, island
  HAVING (epoch_us(COALESCE(max(next_ts), max(ts))) - epoch_us(min(ts))) / 3.6e9 >= 0.5
)
SELECT c.event_type, count(*) AS n_in_run
FROM clean c
WHERE EXISTS (SELECT 1 FROM runs r
              WHERE r.event_type = c.event_type
                AND c.ts >= r.start_ts AND c.ts <= r.end_ts)
GROUP BY c.event_type"""


def q_a9_availability(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A9: % available / % flagged per series (reference
    scripts/sentemqc.py:167-169). The flag here is the jump detector
    so the percentage is non-trivial. Ratios as exact int divisions."""
    d = _events_clean(spark, sf_dir)
    d = d.withColumn("f", D.flag_jumps("value", 100.0, KEY, "ts"))
    return d.groupBy("event_type").agg(
        (F.count("value").cast("double") / F.count(F.lit(1)).cast("double") * 100.0).alias(
            "pct_available"
        ),
        (F.sum(F.col("f").cast("long")).cast("double") / F.count(F.lit(1)).cast("double") * 100.0).alias(
            "pct_flagged"
        ),
    )


SQL_A9 = f"""{ORACLE_CLEAN},
fl AS (
  SELECT event_type, value,
         COALESCE(abs(value - lag(value) OVER (PARTITION BY event_type ORDER BY ts)) >= 100.0, FALSE) AS f
  FROM clean
)
SELECT event_type,
       CAST(count(value) AS DOUBLE) / CAST(count(*) AS DOUBLE) * 100.0 AS pct_available,
       CAST(sum(CASE WHEN f THEN 1 ELSE 0 END) AS DOUBLE) / CAST(count(*) AS DOUBLE) * 100.0 AS pct_flagged
FROM fl GROUP BY event_type"""


# P2/P16 combined slice bounds — shared between the Spark query and
# the oracle SQL below
_P2_LO = "2024-01-10 00:00:00"
_P2_HI = "2024-01-20 00:00:00"


def q_p16_pivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P16/J2 + P2 in one driver row: inclusive-inclusive time-range
    slice (pandas .loc semantics == BETWEEN) feeding the long -> wide
    pivot (per-day rows, one count column per event_type) — the
    reference's wide output assembly as groupBy().pivot() over a
    sliced scan."""
    ev = load_table(spark, sf_dir, "events").filter(
        F.col("ts").between(_P2_LO, _P2_HI)
    )
    d = ev.groupBy(F.to_date("ts").alias("day")).pivot(
        "event_type", ["click", "error", "purchase", "signup", "view"]
    ).count()
    return d.select(
        F.date_format("day", "yyyy-MM-dd").alias("day"),
        *[F.coalesce(F.col(c), F.lit(0)).alias(f"n_{c}") for c in ("click", "error", "purchase", "signup", "view")],
    )


SQL_P16 = f"""
SELECT strftime(CAST(ts AS DATE), '%Y-%m-%d') AS day,
       CAST(sum(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) AS BIGINT) AS n_click,
       CAST(sum(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END) AS BIGINT) AS n_error,
       CAST(sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS BIGINT) AS n_purchase,
       CAST(sum(CASE WHEN event_type = 'signup' THEN 1 ELSE 0 END) AS BIGINT) AS n_signup,
       CAST(sum(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END) AS BIGINT) AS n_view
FROM events
WHERE ts BETWEEN TIMESTAMP '{_P2_LO}' AND TIMESTAMP '{_P2_HI}'
GROUP BY CAST(ts AS DATE)"""


def q_w15_band_support(spark: SparkSession, sf_dir: str) -> DataFrame:
    """W15: band support masking — rolling count of finite values over
    the band window; bands kept only where support >= minp (reference
    scripts/sentemqc.py:105-107). Sparsified input so support varies."""
    d = _events_clean(spark, sf_dir)
    d = d.withColumn("v", F.when(F.col("value") >= 20.0, F.col("value")))
    frame = W.centered(12, KEY, "ts")
    support = F.count("v").over(frame)
    d = d.withColumn("support", support)
    ma = F.sum(F.round(F.col("v") * 100).cast("long")).over(frame).cast(
        "double"
    ) / support.cast("double") / F.lit(100.0)
    return d.select(
        "event_type",
        _us().alias("ts_us"),
        "support",
        F.when(support >= 4, ma).alias("band_center"),
        (support >= 4).alias("band_ok"),
    )


SQL_W15 = f"""{ORACLE_CLEAN},
sp AS (SELECT event_type, ts, CASE WHEN value >= 20.0 THEN value END AS v FROM clean),
s AS (
  SELECT event_type, ts,
         count(v) OVER w AS support,
         sum(CAST(round(v * 100) AS BIGINT)) OVER w AS s1
  FROM sp WINDOW w AS (PARTITION BY event_type ORDER BY ts ROWS BETWEEN 6 PRECEDING AND 5 FOLLOWING)
)
SELECT event_type, epoch_us(ts) AS ts_us, support,
       CASE WHEN support >= 4 THEN CAST(s1 AS DOUBLE) / CAST(support AS DOUBLE) / 100.0 END AS band_center,
       support >= 4 AS band_ok
FROM s"""


def q_p2_time_slice(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P2: inclusive-inclusive time-range slice (pandas .loc
    semantics == BETWEEN) + per-key counts."""
    d = _events_clean(spark, sf_dir)
    d = d.filter(
        F.col("ts").between("2024-01-10 00:00:00", "2024-01-20 00:00:00")
    )
    return d.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.unix_micros(F.min("ts")).alias("first_us"),
        F.unix_micros(F.max("ts")).alias("last_us"),
    )


SQL_P2 = f"""{ORACLE_CLEAN}
SELECT event_type, count(*) AS n_rows,
       epoch_us(min(ts)) AS first_us, epoch_us(max(ts)) AS last_us
FROM clean
WHERE ts BETWEEN TIMESTAMP '2024-01-10 00:00:00' AND TIMESTAMP '2024-01-20 00:00:00'
GROUP BY event_type"""


def q_wrtds_residuals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """WRTDS-proxy local regression per series (applyInPandas island,
    SURVEY §2.9) + robust-z spike flags on residuals. Rows-only check:
    iterative weighted lstsq is not SQL-expressible (the components —
    A8 buster, harmonics — are oracled separately)."""
    from wq_data_pipeline_spark.operators.wrtds import wrtds_buster, wrtds_residuals

    d = _events_clean(spark, sf_dir).withColumn("station", F.lit("s"))
    d = d.withColumnRenamed("event_type", "variable")
    # W17 resample to hourly medians first: WRTDS is O(n·w) per series
    # (w = points inside the time half-width); the hourly grid bounds n
    # per series at any scale factor while the regression still sees
    # the full time span. This is how the operator stays tractable at
    # 100 TB too: coarsen, fit, then join flags back to raw rows.
    d = d.groupBy("station", "variable", F.date_trunc("hour", "ts").alias("ts")).agg(
        F.median("value").alias("value")
    )
    res = wrtds_residuals(d, keys=["station", "variable"])
    spikes = wrtds_buster(res, keys=["station", "variable"], thresh=4.0)
    return spikes.select(
        F.col("variable").alias("event_type"),
        F.unix_micros("ts").alias("ts_us"),
        "value",
        "residual",
        "robust_z",
    )


def q_wrtds_residuals_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """WRTDS with the DISCHARGE-KERNEL branch active (reference
    scripts/ufz_water_qc_pipeline.py:608-614: weights multiply a
    Gaussian in q scaled by 3×MAD): the catalog's plain
    wrtds_residuals runs without a q column, so this variant feeds a
    deterministic synthetic discharge (seasonal sinusoid + a
    value-coupled term) to execute wrtds.py's q-kernel paths under
    the driver. Rows-only like its sibling (iterative weighted lstsq
    is not SQL-expressible)."""
    from wq_data_pipeline_spark.operators.wrtds import wrtds_buster, wrtds_residuals

    ev = load_table(spark, sf_dir, "events").filter(F.col("event_type") == "view")
    d = (
        ev.select(F.lit("s").alias("station"), F.lit("q").alias("variable"), "ts", "value")
        .groupBy("station", "variable", F.date_trunc("hour", "ts").alias("ts"))
        .agg(F.median("value").alias("value"))
    )
    two_pi = 6.283185307179586
    d = d.withColumn(
        "discharge",
        2.0
        + F.sin(two_pi * F.dayofyear("ts") / 365.25)
        + F.pmod(F.col("value"), F.lit(1.0)),
    )
    res = wrtds_residuals(d, keys=["station", "variable"], q_col="discharge")
    spikes = wrtds_buster(res, keys=["station", "variable"], thresh=3.0)
    return spikes.select(
        F.unix_micros("ts").alias("ts_us"), "value", "residual", "robust_z"
    )


def q_qc_full_suite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The reference's COMPLETE 9-detector fallback suite
    (apply_saqc_suite else-branch,
    scripts/ufz_water_qc_pipeline.py:566-577) composed over the events
    series and driver-oracled: premask (>200 -> NULL, gives
    missing/isolated real signal) -> range + missing + plateau
    (flat-run interval mask incl. the first-row-after-run convention,
    :392-407, atol=1.0/min 0.75h tuned to fire on this cadence) +
    variance (w=24, 1e-12) + robust zscore (w=25, 3.5) + jumps
    (100.0) + isolated (<=2 pts, >30 min both sides); uniLOF ==
    zscore (:455-457). n_variance and n_isolated are structurally 0
    on this data (no >=8-point exactly-equal window; nulls too sparse
    for 2-point islands) — their per-detector semantics carry their
    own driver-green entries (w7_rolling_var, w9_isolated); this
    entry's evidence is the 9-way composition and 0/255 assembly. Per-type counts of every component flag plus
    the OR-combined 0/255 assembly. Boolean-valued detectors are
    hash-safe: variance crosses 1e-12 only for exactly-equal windows,
    every other comparison is identical IEEE arithmetic in both
    engines."""
    from wq_data_pipeline_spark.operators import clean as C
    from wq_data_pipeline_spark.operators import detectors as D

    key = ["event_type"]
    ev = load_table(spark, sf_dir, "events").select("event_type", "ts", "value")
    d = C.resolve_duplicates(ev, key, "ts", "value")
    d = d.withColumn("value", F.when(F.col("value") <= 200.0, F.col("value")))
    # pandas skiplist rolling-median engine: bit-equal to the JVM
    # window form (test_robust_z_pandas_engine_matches_window) and
    # ~this query's only non-O(w) cost at sf0.1
    d = D.flag_robust_z(d, "value", 25, 3.5, key, "ts", out="f_z", engine="pandas")
    d = d.withColumn("f_range", D.flag_range("value", 1.0, 180.0))
    d = d.withColumn("f_missing", D.flag_missing("value"))
    d = d.withColumn("f_jump", D.flag_jumps("value", 100.0, key, "ts"))
    d = d.withColumn("f_var", D.flag_variance("value", 24, key, "ts", 1e-12))
    d = D.flat_run_mask(d, "value", key, "ts", 1.0, 0.75, out="f_flat")
    d = D.detect_isolated_groups(d, "value", key, "ts", 2, 1800.0, out="f_iso")
    combined = D.merge_flags(
        F.col("f_z"), F.col("f_range"), F.col("f_missing"), F.col("f_jump"),
        F.col("f_var"), F.col("f_flat"), F.col("f_iso"),
    )
    d = d.withColumn("flag_code", D.flags_to_code(combined))
    d = d.withColumn("accepted", F.when(combined, None).otherwise(F.col("value")))
    return d.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.sum(F.col("f_range").cast("int")).alias("n_range"),
        F.sum(F.col("f_missing").cast("int")).alias("n_missing"),
        F.sum(F.col("f_flat").cast("int")).alias("n_plateau"),
        F.sum(F.col("f_var").cast("int")).alias("n_variance"),
        F.sum(F.col("f_z").cast("int")).alias("n_z"),
        F.sum(F.col("f_jump").cast("int")).alias("n_jump"),
        F.sum(F.col("f_iso").cast("int")).alias("n_isolated"),
        F.sum((F.col("flag_code") == 255).cast("int")).alias("n_flagged"),
        F.count("accepted").alias("n_accepted"),
    )


SQL_QC_FULL_SUITE = """
WITH clean AS (
  SELECT event_type, ts, median(value) AS value
  FROM events GROUP BY event_type, ts
),
pm AS (
  SELECT event_type, ts, CASE WHEN value <= 200.0 THEN value END AS value
  FROM clean
),
base AS (
  SELECT *, lag(value) OVER w AS prev_v,
         lag(ts) OVER w AS prev_ts, lead(ts) OVER w AS next_ts,
         value IS NOT NULL AS is_fin,
         COALESCE(abs(value - lag(value) OVER w) <= 1.0, FALSE)
           AND value IS NOT NULL AS eq
  FROM pm WINDOW w AS (PARTITION BY event_type ORDER BY ts)
),
med AS (
  SELECT *, CASE WHEN count(value) OVER wz >= 8 THEN median(value) OVER wz END AS m
  FROM base WINDOW wz AS (PARTITION BY event_type ORDER BY ts
                          ROWS BETWEEN 12 PRECEDING AND 12 FOLLOWING)
),
madt AS (
  SELECT *, CASE WHEN count(abs(value - m)) OVER wz >= 8
                 THEN median(abs(value - m)) OVER wz END AS mad
  FROM med WINDOW wz AS (PARTITION BY event_type ORDER BY ts
                         ROWS BETWEEN 12 PRECEDING AND 12 FOLLOWING)
),
vart AS (
  SELECT *, COALESCE(
           CASE WHEN count(value) OVER wv >= 8
                THEN var_samp(value) OVER wv END <= 1e-12, FALSE) AS f_var
  FROM madt WINDOW wv AS (PARTITION BY event_type ORDER BY ts
                          ROWS BETWEEN 12 PRECEDING AND 11 FOLLOWING)
),
isl AS (
  SELECT *, sum(CASE WHEN chg THEN 1 ELSE 0 END)
            OVER (PARTITION BY event_type ORDER BY ts ROWS UNBOUNDED PRECEDING) AS fin_isl,
         sum(CASE WHEN eqchg THEN 1 ELSE 0 END)
            OVER (PARTITION BY event_type ORDER BY ts ROWS UNBOUNDED PRECEDING) AS eq_isl
  FROM (SELECT *,
          lag(is_fin) OVER (PARTITION BY event_type ORDER BY ts) IS DISTINCT FROM is_fin AS chg,
          lag(eq) OVER (PARTITION BY event_type ORDER BY ts) IS DISTINCT FROM eq AS eqchg
        FROM vart)
),
flat_runs AS (
  SELECT event_type, min(ts) AS rs,
         COALESCE(max(next_ts), max(ts)) AS re
  FROM isl WHERE eq GROUP BY event_type, eq_isl
  HAVING (epoch_us(COALESCE(max(next_ts), max(ts))) - epoch_us(min(ts))) / 3.6e9 >= 0.75
),
iso_groups AS (
  SELECT event_type, fin_isl,
         count(*) <= 2
         AND min_by({'t': prev_ts}, ts).t IS NOT NULL
         AND (epoch_us(min(ts)) - epoch_us(min_by({'t': prev_ts}, ts).t)) / 1e6 > 1800.0
         AND max_by({'t': next_ts}, ts).t IS NOT NULL
         AND (epoch_us(max_by({'t': next_ts}, ts).t) - epoch_us(max(ts))) / 1e6 > 1800.0 AS isolated
  FROM isl WHERE is_fin GROUP BY event_type, fin_isl
),
fl AS (
  SELECT i.event_type,
         COALESCE(i.value < 1.0 OR i.value > 180.0, FALSE) AS f_range,
         i.value IS NULL AS f_missing,
         EXISTS (SELECT 1 FROM flat_runs r
                 WHERE r.event_type = i.event_type AND i.ts BETWEEN r.rs AND r.re) AS f_flat,
         i.f_var,
         COALESCE(CASE WHEN i.mad > 0
                       THEN abs(0.6745 * (i.value - i.m) / i.mad) >= 3.5 END, FALSE) AS f_z,
         COALESCE(abs(i.value - i.prev_v) >= 100.0, FALSE) AS f_jump,
         COALESCE(i.is_fin AND g.isolated, FALSE) AS f_iso,
         i.value
  FROM isl i LEFT JOIN iso_groups g
    ON i.event_type = g.event_type AND i.fin_isl = g.fin_isl
)
SELECT event_type, count(*) AS n_rows,
       CAST(sum(CASE WHEN f_range THEN 1 ELSE 0 END) AS BIGINT) AS n_range,
       CAST(sum(CASE WHEN f_missing THEN 1 ELSE 0 END) AS BIGINT) AS n_missing,
       CAST(sum(CASE WHEN f_flat THEN 1 ELSE 0 END) AS BIGINT) AS n_plateau,
       CAST(sum(CASE WHEN f_var THEN 1 ELSE 0 END) AS BIGINT) AS n_variance,
       CAST(sum(CASE WHEN f_z THEN 1 ELSE 0 END) AS BIGINT) AS n_z,
       CAST(sum(CASE WHEN f_jump THEN 1 ELSE 0 END) AS BIGINT) AS n_jump,
       CAST(sum(CASE WHEN f_iso THEN 1 ELSE 0 END) AS BIGINT) AS n_isolated,
       CAST(sum(CASE WHEN f_range OR f_missing OR f_flat OR f_var OR f_z OR f_jump OR f_iso
                THEN 1 ELSE 0 END) AS BIGINT) AS n_flagged,
       count(CASE WHEN NOT (f_range OR f_missing OR f_flat OR f_var OR f_z OR f_jump OR f_iso)
             THEN value END) AS n_accepted
FROM fl GROUP BY event_type"""


def q_value_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact per-group percentiles (p25/p50/p75/p90) of the value
    column — the profiling companion to sketch_profile's approximate
    path: at moderate group cardinality the exact sort-based
    percentile is affordable and oracle-comparable (both engines use
    linear interpolation over the sorted values; identical inputs →
    bit-identical doubles, the F.median precedent)."""
    ev = load_table(spark, sf_dir, "events")
    return ev.groupBy("event_type").agg(
        F.count("value").alias("n"),
        F.percentile("value", F.lit(0.25)).alias("p25"),
        F.percentile("value", F.lit(0.5)).alias("p50"),
        F.percentile("value", F.lit(0.75)).alias("p75"),
        F.percentile("value", F.lit(0.9)).alias("p90"),
    )


SQL_VALUE_PERCENTILES = """
SELECT event_type, count(value) AS n,
       percentile_cont(0.25) WITHIN GROUP (ORDER BY value) AS p25,
       percentile_cont(0.50) WITHIN GROUP (ORDER BY value) AS p50,
       percentile_cont(0.75) WITHIN GROUP (ORDER BY value) AS p75,
       percentile_cont(0.90) WITHIN GROUP (ORDER BY value) AS p90
FROM events GROUP BY event_type"""


_TG_STEP_US = 900_000_000  # 15-minute grid


def q_time_grid_ffill(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Regular-grid upsampling with forward-fill — the complement of
    W17's downsample and the standard series-alignment step before
    feature windows: per event_type, generate the full 15-min grid
    between the series' first and last points (floor-aligned), attach
    the observed value where a slot has one (slot-max ts wins, exact
    median is already applied upstream of real pipelines; here
    last-by-(ts,event_id) for determinism), and forward-fill gaps
    with the most recent observation. Grid generation is a per-group
    sequence() explode (narrow, sized by the span); the fill is one
    key-partitioned window — no Python, no global sort."""
    ev = load_table(spark, sf_dir, "events").select(
        "event_type", F.unix_micros("ts").alias("us"), "value", "event_id"
    )
    # floor-div (not double-div + cast, which truncates toward zero):
    # matches the oracle's // for pre-1970 timestamps
    span = ev.groupBy("event_type").agg(
        (F.floor(F.min("us") / _TG_STEP_US).cast("long") * _TG_STEP_US).alias("_lo"),
        (F.floor(F.max("us") / _TG_STEP_US).cast("long") * _TG_STEP_US).alias("_hi"),
    )
    grid = span.select(
        "event_type",
        F.explode(
            F.sequence(F.col("_lo"), F.col("_hi"), F.lit(_TG_STEP_US))
        ).alias("slot_us"),
    )
    # one observation per slot: the latest (us, event_id) in the slot
    obs = (
        ev.withColumn(
            "slot_us", F.floor(F.col("us") / _TG_STEP_US).cast("long") * _TG_STEP_US
        )
        .groupBy("event_type", "slot_us")
        .agg(
            F.max_by(
                F.col("value"), F.struct(F.col("us"), F.col("event_id"))
            ).alias("obs_value"),
            F.count(F.lit(1)).alias("n_obs"),
        )
    )
    from pyspark.sql import Window

    g = grid.join(obs, ["event_type", "slot_us"], "left")
    w = (
        Window.partitionBy("event_type")
        .orderBy("slot_us")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    filled = F.last(
        F.when(F.col("n_obs").isNotNull(), F.col("obs_value")), ignorenulls=True
    ).over(w)
    return g.select(
        "event_type",
        "slot_us",
        F.coalesce("n_obs", F.lit(0).cast("long")).alias("n_obs"),
        filled.alias("value_ffill"),
        F.col("n_obs").isNull().alias("is_filled"),
    )


SQL_TIME_GRID_FFILL = f"""
WITH e AS (
  SELECT event_type, epoch_us(ts) AS us, value, event_id FROM events
),
span AS (
  SELECT event_type,
         (min(us) // {_TG_STEP_US}) * {_TG_STEP_US} AS lo,
         (max(us) // {_TG_STEP_US}) * {_TG_STEP_US} AS hi
  FROM e GROUP BY event_type
),
grid AS (
  SELECT event_type, unnest(generate_series(lo, hi, {_TG_STEP_US})) AS slot_us
  FROM span
),
obs AS (
  SELECT event_type, slot_us, obs_value, n_obs FROM (
    SELECT event_type, (us // {_TG_STEP_US}) * {_TG_STEP_US} AS slot_us,
           value AS obs_value,
           row_number() OVER (PARTITION BY event_type, us // {_TG_STEP_US}
                              ORDER BY us DESC, event_id DESC) AS rn,
           count(*) OVER (PARTITION BY event_type, us // {_TG_STEP_US}) AS n_obs
    FROM e
  ) WHERE rn = 1
)
SELECT g.event_type, g.slot_us,
       CAST(coalesce(o.n_obs, 0) AS BIGINT) AS n_obs,
       last_value(CASE WHEN o.n_obs IS NOT NULL THEN o.obs_value END IGNORE NULLS)
         OVER (PARTITION BY g.event_type ORDER BY g.slot_us
               ROWS UNBOUNDED PRECEDING) AS value_ffill,
       o.n_obs IS NULL AS is_filled
FROM grid g LEFT JOIN obs o USING (event_type, slot_us)"""


_DAY_US = 86_400_000_000


def _vq() -> F.Column:
    """value in integer centi-units (one IEEE product + round)."""
    return F.round(F.col("value") * 100).cast("long")


def _events_raw(spark: SparkSession, sf_dir: str) -> DataFrame:
    return load_table(spark, sf_dir, "events").select(
        "event_id", "ts", "user_id", "event_type", "value"
    )


# --------------------------------------------------------------------------
# EWMA (16-tap truncated, alpha = 1/2)
# --------------------------------------------------------------------------

_EWMA_TAPS = 16
# 0.5**j round-trips exactly through repr(), so the Spark literal and
# the SQL literal parse to the same double.
_EWMA_NORM = repr(sum(0.5**j for j in range(_EWMA_TAPS)))  # 2 - 2^-15


def q_ewma_series(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Truncated EWMA over the click series: at each point,
    sum_{j=0..15} value[i-j] * (1/2)^j, normalized by the constant
    weight mass (rows with fewer than 15 predecessors are excluded,
    so the mass is constant and no per-row weight bookkeeping is
    needed).

    The recursive EWMA is deliberately truncated to a 16-tap FIR:
    the (1/2)^16 tail is below double noise for this use, the
    operator becomes a bounded per-key window (no sequential scan /
    no unbounded state), and — because the weights are exact powers
    of two — every product is an exact scaling, making the result
    bit-deterministic across engines.

    Scale: per-key lag windows; a single monster key routes through
    operators/scale.bucketed_window_apply (halo >= 15 rows)."""
    w = Window.partitionBy("event_type").orderBy("ts", "event_id")
    ev = (
        _events_raw(spark, sf_dir)
        .filter(F.col("event_type") == "click")
        .withColumn("_rn", F.row_number().over(w))
    )
    num = F.col("value")  # j = 0
    for j in range(1, _EWMA_TAPS):
        num = num + F.lag("value", j).over(w) * F.lit(0.5**j)
    return (
        ev.withColumn("_num", num)
        .filter(F.col("_rn") > _EWMA_TAPS - 1)
        .select(
            "event_id",
            F.unix_micros("ts").alias("ts_us"),
            "value",
            (F.col("_num") / F.lit(float(_EWMA_NORM))).alias("ewma"),
        )
    )


def _ewma_sql() -> str:
    terms = ["value"] + [
        f"lag(value, {j}) OVER w * {0.5 ** j!r}" for j in range(1, _EWMA_TAPS)
    ]
    chain = " + ".join(terms)
    return f"""
SELECT event_id, epoch_us(ts) AS ts_us, value,
       ({chain}) / {_EWMA_NORM} AS ewma
FROM events
WHERE event_type = 'click'
WINDOW w AS (PARTITION BY event_type ORDER BY ts, event_id)
QUALIFY row_number() OVER w > {_EWMA_TAPS - 1}"""


SQL_EWMA_SERIES = _ewma_sql()


# --------------------------------------------------------------------------
# ACF at fixed lags
# --------------------------------------------------------------------------

_ACF_LAGS = (1, 2, 3, 6, 12)


def q_acf_lags(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-event-type autocorrelation r_k at lags 1/2/3/6/12.

    All sums are exact: values quantize to centi-units, the mean is
    an integer floor-div, deviation products are BIGINT (|dev| <=
    ~5e4, so a 100-TB-scale sum stays far under int64), and r_k is
    ONE double division of two exact integers.

    Plan shape: one pass computes all five lag columns under a
    single window sort; per-type totals (5 rows) broadcast back."""
    w = Window.partitionBy("event_type").orderBy("ts", "event_id")
    ev = _events_raw(spark, sf_dir).withColumn("vq", _vq())
    for k in _ACF_LAGS:
        ev = ev.withColumn(f"lq_{k}", F.lag("vq", k).over(w))
    stats = ev.groupBy("event_type").agg(
        F.sum("vq").alias("_s"), F.count(F.lit(1)).alias("_n")
    )
    ev = ev.join(F.broadcast(stats), "event_type").withColumn(
        "_m", F.expr("_s DIV _n")
    )
    dev = F.col("vq") - F.col("_m")
    aggs = [F.sum(dev * dev).alias("den")]
    for k in _ACF_LAGS:
        devk = F.col(f"lq_{k}") - F.col("_m")
        aggs.append(
            F.sum(F.when(F.col(f"lq_{k}").isNotNull(), dev * devk)).alias(f"num_{k}")
        )
        aggs.append(
            F.count(F.col(f"lq_{k}")).alias(f"np_{k}")
        )
    per = ev.groupBy("event_type").agg(*aggs)
    pairs = F.array(
        *[
            F.struct(
                F.lit(k).cast("long").alias("lag"),
                F.col(f"np_{k}").alias("n_pairs"),
                (F.col(f"num_{k}").cast("double") / F.col("den").cast("double")).alias(
                    "acf"
                ),
            )
            for k in _ACF_LAGS
        ]
    )
    return per.select(
        "event_type", F.explode(pairs).alias("_p")
    ).select("event_type", "_p.lag", "_p.n_pairs", "_p.acf")


SQL_ACF_LAGS = """
WITH q AS (
  SELECT event_type, ts, event_id,
         CAST(round(value * 100) AS BIGINT) AS vq
  FROM events
),
l AS (
  SELECT event_type, vq,
         lag(vq, 1) OVER w AS lq_1, lag(vq, 2) OVER w AS lq_2,
         lag(vq, 3) OVER w AS lq_3, lag(vq, 6) OVER w AS lq_6,
         lag(vq, 12) OVER w AS lq_12
  FROM q WINDOW w AS (PARTITION BY event_type ORDER BY ts, event_id)
),
s AS (
  SELECT event_type, CAST(sum(vq) AS BIGINT) AS _s, count(*) AS _n
  FROM q GROUP BY 1
),
d AS (
  SELECT l.*, _s // _n AS _m FROM l JOIN s USING (event_type)
),
per AS (
  SELECT event_type,
         CAST(sum((vq - _m) * (vq - _m)) AS BIGINT) AS den,
         CAST(sum(CASE WHEN lq_1  IS NOT NULL THEN (vq - _m) * (lq_1  - _m) END) AS BIGINT) AS num_1,
         count(lq_1)  AS np_1,
         CAST(sum(CASE WHEN lq_2  IS NOT NULL THEN (vq - _m) * (lq_2  - _m) END) AS BIGINT) AS num_2,
         count(lq_2)  AS np_2,
         CAST(sum(CASE WHEN lq_3  IS NOT NULL THEN (vq - _m) * (lq_3  - _m) END) AS BIGINT) AS num_3,
         count(lq_3)  AS np_3,
         CAST(sum(CASE WHEN lq_6  IS NOT NULL THEN (vq - _m) * (lq_6  - _m) END) AS BIGINT) AS num_6,
         count(lq_6)  AS np_6,
         CAST(sum(CASE WHEN lq_12 IS NOT NULL THEN (vq - _m) * (lq_12 - _m) END) AS BIGINT) AS num_12,
         count(lq_12) AS np_12
  FROM d GROUP BY 1
)
SELECT event_type, lag, n_pairs, acf FROM (
  SELECT event_type, CAST(1 AS BIGINT) AS lag, np_1 AS n_pairs,
         CAST(num_1 AS DOUBLE) / CAST(den AS DOUBLE) AS acf FROM per
  UNION ALL
  SELECT event_type, 2, np_2, CAST(num_2 AS DOUBLE) / CAST(den AS DOUBLE) FROM per
  UNION ALL
  SELECT event_type, 3, np_3, CAST(num_3 AS DOUBLE) / CAST(den AS DOUBLE) FROM per
  UNION ALL
  SELECT event_type, 6, np_6, CAST(num_6 AS DOUBLE) / CAST(den AS DOUBLE) FROM per
  UNION ALL
  SELECT event_type, 12, np_12, CAST(num_12 AS DOUBLE) / CAST(den AS DOUBLE) FROM per
)"""


# --------------------------------------------------------------------------
# CUSUM changepoint
# --------------------------------------------------------------------------

def q_cusum_changepoint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-event-type CUSUM changepoint: the running sum of integer
    deviations from the series mean, its maximum absolute excursion,
    and the FIRST (ts, event_id) where that maximum is reached — the
    classic single-changepoint location statistic.

    Exactness: deviations are integers (centi-units minus a floor-div
    mean), so the prefix sum, the max, and the argmax are all exact;
    no float ever enters the comparison.

    Scale: the per-key prefix sum is a bounded window here; a single
    giant series routes through operators/scale.distributed_prefix_sum
    (range-partitioned two-level cumsum)."""
    ev = _events_raw(spark, sf_dir).withColumn("vq", _vq())
    stats = ev.groupBy("event_type").agg(
        F.sum("vq").alias("_s"), F.count(F.lit(1)).alias("_n")
    )
    w = Window.partitionBy("event_type").orderBy("ts", "event_id")
    cum = (
        ev.join(F.broadcast(stats), "event_type")
        .withColumn("_m", F.expr("_s DIV _n"))
        .withColumn("c", F.sum(F.col("vq") - F.col("_m")).over(w))
        .withColumn("absc", F.abs("c"))
    )
    mx = cum.groupBy("event_type").agg(F.max("absc").alias("cusum_max"))
    return (
        cum.join(F.broadcast(mx), "event_type")
        .filter(F.col("absc") == F.col("cusum_max"))
        .groupBy("event_type")
        .agg(
            F.first("cusum_max").alias("cusum_max"),
            F.min(
                F.struct(F.unix_micros("ts").alias("ts_us"), F.col("event_id"))
            ).alias("_w"),
        )
        .select(
            "event_type", "cusum_max",
            F.col("_w.ts_us").alias("cp_ts_us"),
            F.col("_w.event_id").alias("cp_event_id"),
        )
    )


SQL_CUSUM_CHANGEPOINT = """
WITH q AS (
  SELECT event_type, ts, event_id,
         CAST(round(value * 100) AS BIGINT) AS vq
  FROM events
),
s AS (
  SELECT event_type, CAST(sum(vq) AS BIGINT) AS _s, count(*) AS _n
  FROM q GROUP BY 1
),
c AS (
  SELECT q.event_type, ts, event_id,
         abs(CAST(sum(vq - (_s // _n))
             OVER (PARTITION BY q.event_type ORDER BY ts, event_id)
             AS BIGINT)) AS absc
  FROM q JOIN s USING (event_type)
),
m AS (SELECT event_type, max(absc) AS cusum_max FROM c GROUP BY 1)
SELECT c.event_type, cusum_max,
       epoch_us(ts) AS cp_ts_us, event_id AS cp_event_id
FROM c JOIN m ON c.event_type = m.event_type AND absc = cusum_max
QUALIFY row_number() OVER (PARTITION BY c.event_type
                           ORDER BY ts, event_id) = 1"""


# --------------------------------------------------------------------------
# Hour-of-day seasonal indices
# --------------------------------------------------------------------------

def q_seasonal_hours(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Additive hour-of-day seasonality: per (event_type, hour), the
    deviation of the hour's mean from the series mean, in integer
    micro-value units — the seasonal component of a classical
    decomposition at the hour period.

    means are integer floor-divs of exact centi-unit sums scaled to
    micro (x10000), so the subtraction is exact BIGINT math.

    Plan shape: two hash aggs over one scan (hour grain, then type
    grain re-aggregated FROM the hour grain — never a second pass
    over the fact), broadcast join of the 5-row type totals."""
    ev = _events_raw(spark, sf_dir).withColumn("vq", _vq())
    hour = F.hour("ts").cast("long")
    per_hour = ev.groupBy("event_type", hour.alias("hour")).agg(
        F.sum("vq").alias("s_h"), F.count(F.lit(1)).alias("n_h")
    )
    per_type = per_hour.groupBy("event_type").agg(
        F.sum("s_h").alias("s"), F.sum("n_h").alias("n")
    )
    return (
        per_hour.join(F.broadcast(per_type), "event_type")
        .select(
            "event_type",
            "hour",
            F.col("n_h").alias("n_obs"),
            F.expr("(10000 * s_h) DIV n_h").alias("hour_mean_micro"),
            (
                F.expr("(10000 * s_h) DIV n_h") - F.expr("(10000 * s) DIV n")
            ).alias("seasonal_micro"),
        )
    )


SQL_SEASONAL_HOURS = """
WITH q AS (
  SELECT event_type, hour(ts) AS hour,
         CAST(round(value * 100) AS BIGINT) AS vq
  FROM events
),
ph AS (
  SELECT event_type, hour, CAST(sum(vq) AS BIGINT) AS s_h,
         count(*) AS n_h
  FROM q GROUP BY 1, 2
),
pt AS (
  SELECT event_type, CAST(sum(s_h) AS BIGINT) AS s,
         CAST(sum(n_h) AS BIGINT) AS n
  FROM ph GROUP BY 1
)
SELECT event_type, hour, n_h AS n_obs,
       (10000 * s_h) // n_h AS hour_mean_micro,
       (10000 * s_h) // n_h - (10000 * s) // n AS seasonal_micro
FROM ph JOIN pt USING (event_type)"""


# --------------------------------------------------------------------------
# Lagged cross-correlation of daily counts
# --------------------------------------------------------------------------

_XC_LAGS = (-3, -2, -1, 0, 1, 2, 3)


def q_xcorr_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-correlation between the click and purchase DAILY COUNT
    series at lags -3..3 days (does click volume lead purchase
    volume?). Pearson r from the exact-integer identity
    n*Sxy - Sx*Sy over sqrt((n*Sxx - Sx^2)(n*Syy - Sy^2)) — counts
    are integers, every aggregate is exact, and the only floats are
    one sqrt and one division of exact integers.

    Plan shape: the daily-count agg is one shuffle over the
    date-projected scan; the 30-row daily tables broadcast into the
    7 lag joins (a literal lag array explode, one joined pass)."""
    ev = _events_raw(spark, sf_dir)
    daily = (
        ev.filter(F.col("event_type").isin("click", "purchase"))
        .groupBy(F.to_date("ts").alias("d"), "event_type")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    clicks = daily.filter(F.col("event_type") == "click").select(
        F.col("d").alias("cd"), F.col("cnt").alias("x")
    )
    purch = daily.filter(F.col("event_type") == "purchase").select(
        F.col("d").alias("pd"), F.col("cnt").alias("y")
    )
    lags = spark.range(len(_XC_LAGS)).select(
        F.element_at(
            F.array(*[F.lit(k) for k in _XC_LAGS]), (F.col("id") + 1).cast("int")
        ).alias("lag")
    )
    joined = (
        clicks.join(F.broadcast(lags))
        .join(
            purch,
            F.expr("date_add(cd, CAST(lag AS INT))") == F.col("pd"),
        )
    )
    agg = joined.groupBy("lag").agg(
        F.count(F.lit(1)).alias("n_days"),
        F.sum("x").alias("sx"),
        F.sum("y").alias("sy"),
        F.sum(F.col("x") * F.col("y")).alias("sxy"),
        F.sum(F.col("x") * F.col("x")).alias("sxx"),
        F.sum(F.col("y") * F.col("y")).alias("syy"),
    )
    n = F.col("n_days")
    num = n * F.col("sxy") - F.col("sx") * F.col("sy")
    den = F.sqrt(
        (
            (n * F.col("sxx") - F.col("sx") * F.col("sx"))
            * (n * F.col("syy") - F.col("sy") * F.col("sy"))
        ).cast("double")
    )
    return agg.select(
        F.col("lag").cast("long").alias("lag"),
        "n_days",
        (num.cast("double") / den).alias("xcorr"),
    )


SQL_XCORR_DAILY = """
WITH daily AS (
  SELECT CAST(ts AS DATE) AS d, event_type, count(*) AS cnt
  FROM events WHERE event_type IN ('click', 'purchase')
  GROUP BY 1, 2
),
c AS (SELECT d AS cd, cnt AS x FROM daily WHERE event_type = 'click'),
p AS (SELECT d AS pd, cnt AS y FROM daily WHERE event_type = 'purchase'),
j AS (
  SELECT lag, x, y
  FROM c
  CROSS JOIN (SELECT unnest([-3, -2, -1, 0, 1, 2, 3]) AS lag)
  JOIN p ON cd + CAST(lag AS INT) = pd
),
a AS (
  SELECT lag, count(*) AS n_days,
         CAST(sum(x) AS BIGINT) AS sx, CAST(sum(y) AS BIGINT) AS sy,
         CAST(sum(x * y) AS BIGINT) AS sxy,
         CAST(sum(x * x) AS BIGINT) AS sxx,
         CAST(sum(y * y) AS BIGINT) AS syy
  FROM j GROUP BY 1
)
SELECT CAST(lag AS BIGINT) AS lag, n_days,
       CAST(n_days * sxy - sx * sy AS DOUBLE)
       / sqrt(CAST((n_days * sxx - sx * sx) * (n_days * syy - sy * sy)
               AS DOUBLE)) AS xcorr
FROM a"""


# --------------------------------------------------------------------------
# control_chart_days — Shewhart 3-sigma on daily counts
# --------------------------------------------------------------------------

def q_control_chart_days(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shewhart control chart on daily event counts per type: a day
    is out-of-control when its count deviates from the series mean
    by more than 3 sigma. With dev_i = n*x_i - S (exact BIGINT), the
    3-sigma test is the integer cross-multiplication
        n * dev_i^2 > 9 * sum_j dev_j^2
    — no float mean, no sqrt, bit-deterministic.

    Plan shape: daily-count agg (one shuffle), 5-row per-type
    moments broadcast back onto the 150-row daily table."""
    daily = (
        load_table(spark, sf_dir, "events")
        .groupBy(
            "event_type",
            F.floor(F.unix_micros("ts") / _DAY_US).cast("long").alias("day"),
        )
        .agg(F.count(F.lit(1)).alias("x"))
    )
    stats = daily.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("x").alias("s"),
    )
    j = daily.join(F.broadcast(stats), "event_type").withColumn(
        "dev", F.col("n") * F.col("x") - F.col("s")
    )
    ss = j.groupBy("event_type").agg(
        F.sum(F.col("dev") * F.col("dev")).alias("ssd")
    )
    return (
        j.join(F.broadcast(ss), "event_type")
        .select(
            "event_type",
            "day",
            "x",
            F.expr("s DIV n").alias("mean_floor"),
            (
                F.col("n") * F.col("dev") * F.col("dev")
                > 9 * F.col("ssd")
            ).alias("out_of_control"),
        )
    )


SQL_CONTROL_CHART_DAYS = f"""
WITH daily AS (
  SELECT event_type, epoch_us(ts) // {_DAY_US} AS day, count(*) AS x
  FROM events GROUP BY 1, 2
),
st AS (
  SELECT event_type, count(*) AS n, CAST(sum(x) AS BIGINT) AS s
  FROM daily GROUP BY 1
),
d AS (
  SELECT daily.*, n, s, n * x - s AS dev
  FROM daily JOIN st USING (event_type)
),
ss AS (
  SELECT event_type, CAST(sum(dev * dev) AS BIGINT) AS ssd
  FROM d GROUP BY 1
)
SELECT d.event_type, day, x, s // n AS mean_floor,
       n * dev * dev > 9 * ssd AS out_of_control
FROM d JOIN ss USING (event_type)"""


_HOUR_US = 3_600_000_000


# --------------------------------------------------------------------------
# exact-integer least-squares trend
# --------------------------------------------------------------------------

_LR_EPOCH = "2024-01-01"


def q_linreg_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-event-type least-squares trend of daily event counts vs
    day index (days since {_LR_EPOCH}).

    slope = (n*Sxy - Sx*Sy) / (n*Sxx - Sx^2) and
    intercept = (Sy - slope_num/slope_den * Sx) / n are computed from
    the five exact BIGINT sums; each output double is one division of
    exact integers (intercept uses the exact rational form
    (Sy*den - num*Sx) / (n*den) so it too is a single division) —
    bit-identical cross-engine.

    Scale: two chained hash aggregates (events -> daily counts ->
    five sums per series); both partial-aggregate map-side. No
    windows, no broadcast."""
    ev = _events_raw(spark, sf_dir)
    daily = ev.groupBy(
        "event_type",
        F.datediff(F.to_date("ts"), F.lit(_LR_EPOCH).cast("date")).alias("x"),
    ).agg(F.count(F.lit(1)).alias("y"))
    sums = daily.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("x").alias("sx"),
        F.sum("y").alias("sy"),
        F.sum(F.col("x") * F.col("y")).alias("sxy"),
        F.sum(F.col("x") * F.col("x")).alias("sxx"),
    )
    num = F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")
    den = F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")
    return sums.select(
        "event_type",
        F.col("n").alias("n_days"),
        (num / den).alias("slope"),
        ((F.col("sy") * den - num * F.col("sx")) / (F.col("n") * den)).alias("intercept"),
    ).orderBy("event_type")


SQL_LINREG_DAILY = f"""
WITH daily AS (
  SELECT event_type,
         date_diff('day', DATE '{_LR_EPOCH}', CAST(ts AS DATE)) AS x,
         count(*) AS y
  FROM events GROUP BY 1, 2
),
s AS (
  SELECT event_type,
         count(*) AS n,
         CAST(sum(x) AS BIGINT) AS sx,
         CAST(sum(y) AS BIGINT) AS sy,
         CAST(sum(x * y) AS BIGINT) AS sxy,
         CAST(sum(x * x) AS BIGINT) AS sxx
  FROM daily GROUP BY 1
)
SELECT event_type,
       n AS n_days,
       CAST(n * sxy - sx * sy AS DOUBLE) / (n * sxx - sx * sx) AS slope,
       CAST(sy * (n * sxx - sx * sx) - (n * sxy - sx * sy) * sx AS DOUBLE)
         / (n * (n * sxx - sx * sx)) AS intercept
FROM s ORDER BY 1"""


# --------------------------------------------------------------------------
# time-weighted average
# --------------------------------------------------------------------------


def q_twa_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Duration-weighted daily mean per series: sum(v * dt) / sum(dt)
    where dt is each sample's holding time until the next sample in
    the same (series, day); the day's last sample carries no weight
    (right-open integral). The plain AVG is reported beside it — on
    irregular sampling the two diverge, which is the point.

    Scale: one lead() window per (series, day) partition + one hash
    agg; numerators stay exact because per-group sum(dt) <= one day
    of microseconds, so sum(vc*dt) <= vc_max * 8.64e10 << 2^63."""
    ev = _events(spark, sf_dir)
    w = Window.partitionBy("event_type", "day").orderBy("ts_us", "event_id")
    d = ev.withColumn("day", (F.col("ts_us") / _DAY_US).cast("long")).withColumn(
        "dt_us", F.lead("ts_us").over(w) - F.col("ts_us")
    )
    return (
        d.groupBy("event_type", "day")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.col("vc") * F.col("dt_us")).alias("_num"),
            F.sum("dt_us").alias("span_us"),
            F.sum("vc").alias("_sv"),
        )
        .filter(F.col("span_us") > 0)
        .select(
            "event_type",
            "day",
            "n",
            "span_us",
            (F.col("_num") / F.col("span_us")).alias("twa_cents"),
            # exact-integer sum / count: one division, no accumulation order
            (F.col("_sv") / F.col("n")).alias("avg_cents"),
        )
        .orderBy("event_type", "day")
    )


SQL_TWA_DAILY = f"""
WITH e AS (
  SELECT event_type,
         epoch_us(ts) // {_DAY_US} AS day,
         epoch_us(ts) AS ts_us,
         event_id,
         CAST(round(value * 100) AS BIGINT) AS vc
  FROM events
),
d AS (
  SELECT *,
         lead(ts_us) OVER (PARTITION BY event_type, day
                           ORDER BY ts_us, event_id) - ts_us AS dt_us
  FROM e
)
SELECT event_type, day,
       count(*) AS n,
       CAST(sum(dt_us) AS BIGINT) AS span_us,
       CAST(sum(vc * dt_us) AS DOUBLE) / CAST(sum(dt_us) AS BIGINT) AS twa_cents,
       CAST(sum(vc) AS DOUBLE) / count(*) AS avg_cents
FROM d
GROUP BY 1, 2
HAVING CAST(sum(dt_us) AS BIGINT) > 0
ORDER BY 1, 2"""


# --------------------------------------------------------------------------
# OHLC candlestick bars
# --------------------------------------------------------------------------


def q_ohlc_hourly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hourly OHLC bars per series. Open/close are the first/last
    sample in deterministic (ts, event_id) order, extracted by
    conditional aggregation over a single row_number window (rn = 1 /
    rn = n) — portable where min_by-on-struct ordering is not.

    Scale: one window + one hash agg, both on the same
    (series, hour) key — the sort is reused by the aggregate."""
    ev = _events(spark, sf_dir)
    d = ev.withColumn("hour", (F.col("ts_us") / _HOUR_US).cast("long"))
    w = Window.partitionBy("event_type", "hour").orderBy("ts_us", "event_id")
    r = d.withColumn("rn", F.row_number().over(w)).withColumn(
        "cnt", F.count(F.lit(1)).over(Window.partitionBy("event_type", "hour"))
    )
    return (
        r.groupBy("event_type", "hour")
        .agg(
            F.max(F.when(F.col("rn") == 1, F.col("vc"))).alias("open_c"),
            F.max("vc").alias("high_c"),
            F.min("vc").alias("low_c"),
            F.max(F.when(F.col("rn") == F.col("cnt"), F.col("vc"))).alias("close_c"),
            F.count(F.lit(1)).alias("n"),
        )
        .orderBy("event_type", "hour")
    )


SQL_OHLC_HOURLY = f"""
WITH e AS (
  SELECT event_type,
         epoch_us(ts) // {_HOUR_US} AS hour,
         epoch_us(ts) AS ts_us,
         event_id,
         CAST(round(value * 100) AS BIGINT) AS vc
  FROM events
),
r AS (
  SELECT *,
         row_number() OVER (PARTITION BY event_type, hour
                            ORDER BY ts_us, event_id) AS rn,
         count(*) OVER (PARTITION BY event_type, hour) AS cnt
  FROM e
)
SELECT event_type, hour,
       max(CASE WHEN rn = 1 THEN vc END) AS open_c,
       max(vc) AS high_c,
       min(vc) AS low_c,
       max(CASE WHEN rn = cnt THEN vc END) AS close_c,
       count(*) AS n
FROM r
GROUP BY 1, 2
ORDER BY 1, 2"""


# --------------------------------------------------------------------------
# linear interpolation onto an hourly grid
# --------------------------------------------------------------------------




def q_gap_lerp(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Each series linearly interpolated onto the hourly grid between
    its first and last sample.

    Neighbor discovery is ONE sorted pass over the union of samples
    and grid points (the as-of formulation, run in both directions):
    last non-null value/ts before each grid point, first after. The
    lerp itself is exact integer arithmetic with floor division, so
    both engines produce identical BIGINT centi-values — no float
    interpolation to drift.

    Scale: grid generation is a per-series sequence (bounded rows),
    the union sorts once per series partition; no joins at all —
    this beats the two-range-join formulation by a full shuffle."""
    ev = _events(spark, sf_dir)
    bounds = ev.groupBy("event_type").agg(
        F.min("ts_us").alias("lo"), F.max("ts_us").alias("hi")
    )
    # A series whose samples all land inside one hour bucket has
    # grid start > stop; Spark's sequence() with a positive step
    # raises on that, while the oracle's range() returns no rows —
    # guard so degenerate series yield zero grid points either way.
    g_start = (F.floor(F.col("lo") / _HOUR_US).cast("long") + 1) * _HOUR_US
    g_stop = F.floor(F.col("hi") / _HOUR_US).cast("long") * _HOUR_US
    grid = bounds.select(
        "event_type",
        F.explode(
            F.when(
                g_start <= g_stop,
                F.sequence(g_start, g_stop, F.lit(_HOUR_US)),
            ).otherwise(F.array().cast("array<long>"))
        ).alias("ts_us"),
    )
    g = grid.select(
        "event_type",
        "ts_us",
        F.lit(1).alias("is_grid"),
        F.lit(-1).cast("long").alias("event_id"),
        F.lit(None).cast("long").alias("vc"),
    )
    e = ev.select("event_type", "ts_us", F.lit(0).alias("is_grid"), "event_id", "vc")
    u = e.unionByName(g)
    # events sort before grid points at equal ts so an exact-ts sample
    # is the "previous" neighbor (lerp then degenerates to it exactly)
    order = [F.col("ts_us"), F.col("is_grid"), F.col("event_id")]
    wb = (
        Window.partitionBy("event_type")
        .orderBy(*order)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    # The forward neighbor runs as a BACKWARD scan over the reversed
    # ordering: Spark evaluates last(ignorenulls) over
    # [unboundedPreceding, currentRow] incrementally (O(n)), whereas
    # first(ignorenulls) over [currentRow, unboundedFollowing]
    # re-scans the frame tail per row — O(n^2) per partition
    # (measured: 171 s vs 3 s on a 100k-row series). Same frame
    # contents: rows at or after the current row in ascending order.
    wf = (
        Window.partitionBy("event_type")
        .orderBy(*[c.desc() for c in order])
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    ev_ts = F.when(F.col("is_grid") == 0, F.col("ts_us"))
    d = (
        u.withColumn("pv", F.last("vc", ignorenulls=True).over(wb))
        .withColumn("pt", F.last(ev_ts, ignorenulls=True).over(wb))
        .withColumn("nv", F.last("vc", ignorenulls=True).over(wf))
        .withColumn("nt", F.last(ev_ts, ignorenulls=True).over(wf))
        .filter((F.col("is_grid") == 1) & F.col("pv").isNotNull() & F.col("nv").isNotNull())
    )
    # Signed integer division: Spark's DIV and DuckDB's // BOTH
    # truncate toward zero (verified: -7//2 = -3 in DuckDB), so plain
    # DIV mirrors the oracle exactly. Stays in the integer domain
    # end-to-end: num can exceed 2^53, so a double division would not
    # be exact.
    d = d.withColumn(
        "_num", (F.col("nv") - F.col("pv")) * (F.col("ts_us") - F.col("pt"))
    ).withColumn("_den", F.col("nt") - F.col("pt"))
    lerp = F.when(F.col("_den") == 0, F.col("pv")).otherwise(
        F.col("pv") + F.expr("_num DIV _den")
    )
    return d.select(
        "event_type", "ts_us", lerp.cast("long").alias("lerp_cents")
    ).orderBy("event_type", "ts_us")


SQL_GAP_LERP = f"""
WITH e AS (
  SELECT event_type, epoch_us(ts) AS ts_us, 0 AS is_grid,
         event_id, CAST(round(value * 100) AS BIGINT) AS vc
  FROM events
),
b AS (
  SELECT event_type, min(ts_us) AS lo, max(ts_us) AS hi FROM e GROUP BY 1
),
g AS (
  SELECT event_type, ts_us, 1 AS is_grid,
         CAST(-1 AS BIGINT) AS event_id, CAST(NULL AS BIGINT) AS vc
  FROM b, unnest(range((lo // {_HOUR_US} + 1) * {_HOUR_US},
                       (hi // {_HOUR_US}) * {_HOUR_US} + 1,
                       {_HOUR_US})) AS t(ts_us)
),
u AS (SELECT * FROM e UNION ALL SELECT * FROM g),
d AS (
  SELECT *,
         last_value(vc IGNORE NULLS) OVER wb AS pv,
         last_value(CASE WHEN is_grid = 0 THEN ts_us END IGNORE NULLS) OVER wb AS pt,
         first_value(vc IGNORE NULLS) OVER wf AS nv,
         first_value(CASE WHEN is_grid = 0 THEN ts_us END IGNORE NULLS) OVER wf AS nt
  FROM u
  WINDOW
    wb AS (PARTITION BY event_type ORDER BY ts_us, is_grid, event_id
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
    wf AS (PARTITION BY event_type ORDER BY ts_us, is_grid, event_id
           ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING)
)
SELECT event_type, ts_us,
       CAST(CASE WHEN nt = pt THEN pv
                 ELSE pv + ((nv - pv) * (ts_us - pt)) // (nt - pt)
            END AS BIGINT) AS lerp_cents
FROM d
WHERE is_grid = 1 AND pv IS NOT NULL AND nv IS NOT NULL
ORDER BY 1, 2"""


def _events(spark: SparkSession, sf_dir: str) -> DataFrame:
    return load_table(spark, sf_dir, "events").select(
        "event_id",
        F.unix_micros("ts").alias("ts_us"),
        "user_id",
        "event_type",
        F.round(F.col("value") * 100).cast("long").alias("vc"),
    )


# --------------------------------------------------------------------------
# unpivot / melt
# --------------------------------------------------------------------------


def q_unpivot_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Daily per-series metrics melted long: one row per
    (series, day, metric). The unpivot is a zero-shuffle Expand over
    the aggregated frame — the metric axis becomes data, which is how
    a metrics store serves heterogeneous dashboards from one table.

    Scale: agg first (small frame), melt after — melting the raw
    table first would triple the shuffle volume for nothing."""
    ev = _events(spark, sf_dir)
    daily = ev.groupBy(
        "event_type", (F.col("ts_us") / _DAY_US).cast("long").alias("day")
    ).agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("vc").alias("sum_cents"),
        F.max("vc").alias("max_cents"),
    )
    return (
        daily.unpivot(
            ["event_type", "day"],
            ["n", "sum_cents", "max_cents"],
            "metric",
            "value_c",
        )
        .orderBy("event_type", "day", "metric")
    )


SQL_UNPIVOT_METRICS = f"""
WITH daily AS (
  SELECT event_type,
         epoch_us(ts) // {_DAY_US} AS day,
         count(*) AS n,
         CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS sum_cents,
         max(CAST(round(value * 100) AS BIGINT)) AS max_cents
  FROM events GROUP BY 1, 2
)
SELECT event_type, day, metric, value_c FROM (
  SELECT event_type, day, 'n' AS metric, n AS value_c FROM daily
  UNION ALL
  SELECT event_type, day, 'sum_cents', sum_cents FROM daily
  UNION ALL
  SELECT event_type, day, 'max_cents', max_cents FROM daily
)
ORDER BY 1, 2, 3"""


# --------------------------------------------------------------------------
# winsorization
# --------------------------------------------------------------------------

_WINS_LO_PCT = 5
_WINS_HI_PCT = 95


def q_winsorize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-series winsorization report: exact rank-based p05/p95 cut
    values (element at rank ceil(p*n), 1-indexed — percentile_disc
    semantics, no interpolation), how many rows clip at each end, and
    the winsorized sum.

    Scale: one value-ranked window per series + one broadcast of the
    5 cut rows back onto the scan; the clamp itself is a map-side
    expression."""
    ev = _events(spark, sf_dir)
    w = Window.partitionBy("event_type").orderBy("vc", "event_id")
    ranked = ev.withColumn("rn", F.row_number().over(w)).withColumn(
        "cnt", F.count(F.lit(1)).over(Window.partitionBy("event_type"))
    )
    k_lo = F.expr(f"(cnt * {_WINS_LO_PCT} + 99) DIV 100")
    k_hi = F.expr(f"(cnt * {_WINS_HI_PCT} + 99) DIV 100")
    cuts = ranked.groupBy("event_type").agg(
        F.max(F.when(F.col("rn") == k_lo, F.col("vc"))).alias("lo_c"),
        F.max(F.when(F.col("rn") == k_hi, F.col("vc"))).alias("hi_c"),
    )
    j = ev.join(F.broadcast(cuts), "event_type")
    clamped = F.greatest(F.least(F.col("vc"), F.col("hi_c")), F.col("lo_c"))
    return (
        j.groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.max("lo_c").alias("lo_c"),
            F.max("hi_c").alias("hi_c"),
            F.sum((F.col("vc") < F.col("lo_c")).cast("long")).alias("n_clip_lo"),
            F.sum((F.col("vc") > F.col("hi_c")).cast("long")).alias("n_clip_hi"),
            F.sum(clamped).alias("wins_sum_c"),
        )
        .orderBy("event_type")
    )


SQL_WINSORIZE = f"""
WITH e AS (
  SELECT event_type, event_id, CAST(round(value * 100) AS BIGINT) AS vc
  FROM events
),
r AS (
  SELECT *,
         row_number() OVER (PARTITION BY event_type ORDER BY vc, event_id) AS rn,
         count(*) OVER (PARTITION BY event_type) AS cnt
  FROM e
),
cuts AS (
  SELECT event_type,
         max(CASE WHEN rn = (cnt * {_WINS_LO_PCT} + 99) // 100 THEN vc END) AS lo_c,
         max(CASE WHEN rn = (cnt * {_WINS_HI_PCT} + 99) // 100 THEN vc END) AS hi_c
  FROM r GROUP BY 1
)
SELECT e.event_type,
       count(*) AS n,
       max(lo_c) AS lo_c,
       max(hi_c) AS hi_c,
       CAST(sum(CAST(vc < lo_c AS BIGINT)) AS BIGINT) AS n_clip_lo,
       CAST(sum(CAST(vc > hi_c AS BIGINT)) AS BIGINT) AS n_clip_hi,
       CAST(sum(greatest(least(vc, hi_c), lo_c)) AS BIGINT) AS wins_sum_c
FROM e JOIN cuts ON e.event_type = cuts.event_type
GROUP BY 1 ORDER BY 1"""


# --------------------------------------------------------------------------
# partial-aggregate merge (incremental rollup)
# --------------------------------------------------------------------------


def q_rollup_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weekly rollups produced by MERGING daily partial aggregates —
    count/sum/min/max merge trivially, variance merges through the
    exact integer closed form (n*Sxx - Sx^2) / (n*(n-1)) because sums
    and sums-of-squares are algebraic. The oracle aggregates the RAW
    rows directly, so a green row proves partial-merge == direct —
    the property that lets a 100-TB pipeline maintain daily partials
    and serve any coarser grain without rescanning history.

    Scale: the daily partial is the only pass over the data; the
    weekly merge sees one row per (series, day)."""
    ev = _events(spark, sf_dir)
    daily = ev.groupBy(
        "event_type",
        F.date_trunc("week", F.timestamp_micros(F.col("ts_us"))).alias("wk"),
        (F.col("ts_us") / _DAY_US).cast("long").alias("day"),
    ).agg(
        F.count(F.lit(1)).alias("pn"),
        F.sum("vc").alias("ps"),
        F.sum(F.col("vc") * F.col("vc")).alias("pss"),
        F.min("vc").alias("pmin"),
        F.max("vc").alias("pmax"),
    )
    weekly = daily.groupBy(
        "event_type", F.unix_micros("wk").alias("week_us")
    ).agg(
        F.sum("pn").alias("n"),
        F.sum("ps").alias("sum_c"),
        F.sum("pss").alias("_ss"),
        F.min("pmin").alias("min_c"),
        F.max("pmax").alias("max_c"),
    )
    return weekly.select(
        "event_type",
        "week_us",
        "n",
        "sum_c",
        "min_c",
        "max_c",
        (F.col("sum_c") / F.col("n")).alias("mean_c"),
        (
            (F.col("n") * F.col("_ss") - F.col("sum_c") * F.col("sum_c"))
            / (F.col("n") * (F.col("n") - 1))
        ).alias("var_c"),
    ).orderBy("event_type", "week_us")


SQL_ROLLUP_MERGE = """
WITH e AS (
  SELECT event_type,
         epoch_us(date_trunc('week', ts)) AS week_us,
         CAST(round(value * 100) AS BIGINT) AS vc
  FROM events
)
SELECT event_type, week_us,
       count(*) AS n,
       CAST(sum(vc) AS BIGINT) AS sum_c,
       min(vc) AS min_c,
       max(vc) AS max_c,
       CAST(sum(vc) AS DOUBLE) / count(*) AS mean_c,
       CAST(count(*) * CAST(sum(vc * vc) AS BIGINT)
            - CAST(sum(vc) AS BIGINT) * CAST(sum(vc) AS BIGINT) AS DOUBLE)
         / (count(*) * (count(*) - 1)) AS var_c
FROM e
GROUP BY 1, 2
ORDER BY 1, 2"""


_BT_LAST_DAYS = 7


def q_seasonal_naive_mae(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Backtest the seasonal-naive forecaster on the hourly series:
    prediction for hour h = the series' value sum at hour h - 24
    (the SAME hour one day earlier, not 24 observed rows back — the
    hourly grids have gaps, so this is a calendar self-join on
    h - 24, not a lag window); score per series over the last
    {_BT_LAST_DAYS} days as MAE and mean bias in integer centi-units.
    Hours whose previous-day hour is unobserved have no prediction
    and are excluded from the score.

    Scale: hourly pre-agg (map-side combinable) then ONE per-series
    equi-join on (event_type, h-24) — shuffle-keyed, no densify
    materialization; the cutoff scalar stays a lazy 1-row broadcast
    cross-join (no driver collect)."""
    ev = _events(spark, sf_dir)
    hourly = ev.groupBy(
        "event_type", (F.col("ts_us") / _HOUR_US).cast("long").alias("h")
    ).agg(F.sum("vc").alias("v"))
    prev_day = hourly.select(
        "event_type", (F.col("h") + 24).alias("h"), F.col("v").alias("pred")
    )
    d = hourly.join(prev_day, ["event_type", "h"], "left")
    cut = d.groupBy().agg(
        (F.max("h") - F.lit(_BT_LAST_DAYS * 24)).alias("h_cut")
    )
    scored = d.crossJoin(F.broadcast(cut)).filter(
        (F.col("h") > F.col("h_cut")) & F.col("pred").isNotNull()
    )
    return (
        scored.groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n_hours"),
            F.sum(F.abs(F.col("v") - F.col("pred"))).alias("_sae"),
            F.sum(F.col("v") - F.col("pred")).alias("_sbias"),
        )
        .select(
            "event_type",
            "n_hours",
            (F.col("_sae") / F.col("n_hours")).alias("mae_c"),
            (F.col("_sbias") / F.col("n_hours")).alias("bias_c"),
        )
        .orderBy("event_type")
    )


SQL_SEASONAL_NAIVE_MAE = f"""
WITH hourly AS (
  SELECT event_type, epoch_us(ts) // {_HOUR_US} AS h,
         CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS v
  FROM events GROUP BY 1, 2
),
d AS (
  SELECT a.event_type, a.h, a.v, b.v AS pred
  FROM hourly a
  LEFT JOIN hourly b ON b.event_type = a.event_type AND b.h = a.h - 24
),
cut AS (SELECT max(h) - {_BT_LAST_DAYS * 24} AS c FROM d)
SELECT event_type,
       count(*) AS n_hours,
       CAST(sum(abs(v - pred)) AS DOUBLE) / count(*) AS mae_c,
       CAST(sum(v - pred) AS DOUBLE) / count(*) AS bias_c
FROM d, cut
WHERE h > c AND pred IS NOT NULL
GROUP BY 1 ORDER BY 1"""


# --------------------------------------------------------------------------
# des_forecast_mae — Brown double-exponential-smoothing backtest
# --------------------------------------------------------------------------

_DES_TAPS = 8  # per-EWMA FIR taps; composed kernel spans 2*T-1 lags


def _des_coeffs() -> tuple[list[float], list[float]]:
    """FIR weights for the truncated S1 and composed S2 kernels,
    alpha = 1/2: w1_j = 0.5^j (j < T); w2_m = cnt(m) * 0.5^m with
    cnt(m) = #{(j,k): j+k=m, j,k < T} = min(m, 2T-2-m) + 1. All
    exact dyadic-rational doubles — identical literals in both
    dialects."""
    t = _DES_TAPS
    w1 = [0.5**j for j in range(t)]
    w2 = [(min(m, 2 * t - 2 - m) + 1) * 0.5**m for m in range(2 * t - 1)]
    return w1, w2


def q_des_forecast_mae(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One-step-ahead backtest of Brown's double exponential
    smoothing (alpha=1/2) per event-type series: forecast_(t+1) =
    2*S1 + (S1 - S2) = 3*S1 - 2*S2 where S1/S2 are the first/second
    smoothings — the trend-aware upgrade of seasonal_naive_mae's
    level-only forecaster.

    The recursive smoothings are truncated to FIR kernels (the
    q_ewma_series convention): S1 = (sum_j 0.5^j x_(t-j)) / 2 and
    S2 = (sum_m cnt(m) 0.5^m x_(t-m)) / 4 with the infinite-kernel
    masses 2 and 4 as fixed divisors, so every product is an exact
    dyadic scaling of the centi-quantized values and the forecast is
    bit-deterministic. Rows without full kernel history (first 2T-2
    per series) and rows without a next observation are excluded in
    both engines. Per-row |err| and err are quantized to micro-units
    BEFORE the distributed sum (order-free BIGINT), one final
    division each, rounded 6dp.

    Scale: ONE window sort per series carries all 2T-1 lags, the
    row_number, and the lead; then a map-side-combinable agg."""
    w1, w2 = _des_coeffs()
    w = Window.partitionBy("event_type").orderBy("ts_us", "event_id")
    ev = _events(spark, sf_dir)
    num1 = F.col("vc") * F.lit(w1[0])
    for j in range(1, len(w1)):
        num1 = num1 + F.lag("vc", j).over(w) * F.lit(w1[j])
    num2 = F.col("vc") * F.lit(w2[0])
    for m in range(1, len(w2)):
        num2 = num2 + F.lag("vc", m).over(w) * F.lit(w2[m])
    fc = F.lit(1.5) * num1 - F.lit(0.5) * num2
    d = ev.select(
        "event_type",
        F.row_number().over(w).alias("_rn"),
        F.lead("vc", 1).over(w).alias("_nxt"),
        fc.alias("_fc"),
    ).filter((F.col("_rn") > 2 * _DES_TAPS - 2) & F.col("_nxt").isNotNull())
    err = F.col("_nxt") - F.col("_fc")
    return (
        d.select(
            "event_type",
            F.round(F.abs(err) * F.lit(1e6)).cast("long").alias("_ae"),
            F.round(err * F.lit(1e6)).cast("long").alias("_se"),
        )
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n_points"),
            F.sum("_ae").alias("_sae"),
            F.sum("_se").alias("_sbias"),
        )
        .select(
            "event_type",
            "n_points",
            F.round(F.col("_sae") / F.lit(1e6) / F.col("n_points"), 6).alias("mae_c"),
            F.round(F.col("_sbias") / F.lit(1e6) / F.col("n_points"), 6).alias(
                "bias_c"
            ),
        )
        .orderBy("event_type")
    )


def _des_sql() -> str:
    w1, w2 = _des_coeffs()
    n1 = " + ".join(
        ("vc" if j == 0 else f"lag(vc, {j}) OVER w * {w1[j]!r}")
        for j in range(len(w1))
    )
    n2 = " + ".join(
        (f"vc * {w2[0]!r}" if m == 0 else f"lag(vc, {m}) OVER w * {w2[m]!r}")
        for m in range(len(w2))
    )
    return f"""
WITH ev AS (
  SELECT event_type, epoch_us(ts) AS ts_us, event_id,
         CAST(round(value * 100) AS BIGINT) AS vc
  FROM events
),
d AS (
  SELECT event_type,
         row_number() OVER w AS rn,
         lead(vc, 1) OVER w AS nxt,
         1.5 * ({n1}) - 0.5 * ({n2}) AS fc
  FROM ev
  WINDOW w AS (PARTITION BY event_type ORDER BY ts_us, event_id)
),
e AS (
  SELECT event_type,
         CAST(round(abs(nxt - fc) * 1e6) AS BIGINT) AS ae,
         CAST(round((nxt - fc) * 1e6) AS BIGINT) AS se
  FROM d WHERE rn > {2 * _DES_TAPS - 2} AND nxt IS NOT NULL
)
SELECT event_type, count(*) AS n_points,
       round(sum(ae) / 1e6 / count(*), 6) AS mae_c,
       round(sum(se) / 1e6 / count(*), 6) AS bias_c
FROM e GROUP BY event_type ORDER BY event_type"""


SQL_DES_FORECAST_MAE = _des_sql()

_BENFORD_P = {d: math.log10(1.0 + 1.0 / d) for d in range(1, 10)}


def q_benford_digits(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-significant-digit distribution of |value| per series vs
    Benford's law — the fraud/sensor-tamper screen sibling of the
    reference's decimal-uniformity chi-square
    (/root/reference/scripts/ufz_water_qc_pipeline.py:239-248 bins
    fractional parts; this bins leading digits).

    Exactness: the leading digit is taken from the INTEGER
    centi-quantized magnitude (round(|v|*100) as BIGINT — scaling by
    10^k never changes the leading significant digit), via
    integer-to-string substr, so no float log10 edge cases at decade
    boundaries; shares are one division of exact counts, rounded 6dp;
    the Benford expectation is the same Python-computed literal in
    both dialects. Per-digit rows avoid any order-sensitive sum.

    Scale: one scan -> one (series, digit) hash agg -> per-series
    total via a 9-rows-per-series window; no joins."""
    ev = _events(spark, sf_dir)
    vc = F.abs(F.col("vc"))
    d = (
        ev.filter(vc > 0)
        .select(
            "event_type",
            F.substring(vc.cast("string"), 1, 1).cast("int").alias("digit"),
        )
        .groupBy("event_type", "digit")
        .agg(F.count(F.lit(1)).alias("n_obs"))
    )
    w = Window.partitionBy("event_type")
    expected = F.element_at(
        F.create_map(
            *[F.lit(x) for kv in _BENFORD_P.items() for x in kv]
        ),
        F.col("digit"),
    )
    # the displayed share is a Python-rounded LITERAL in both dialects
    # (DuckDB constant-folds round(literal, 6) to DECIMAL, which the
    # type-strict value compare rejects); dev keeps the full-precision
    # expectation inside its own rounded expression
    shown = F.element_at(
        F.create_map(
            *[
                F.lit(x)
                for dd, p in _BENFORD_P.items()
                for x in (dd, round(p, 6))
            ]
        ),
        F.col("digit"),
    )
    obs_share = F.col("n_obs").cast("double") / F.sum("n_obs").over(w).cast(
        "double"
    )
    return d.select(
        "event_type",
        "digit",
        "n_obs",
        F.round(obs_share, 6).alias("obs_share"),
        shown.alias("benford_share"),
        F.round(obs_share - expected, 6).alias("dev"),
    ).orderBy("event_type", "digit")


def _benford_sql() -> str:
    exp_case = "CASE digit " + " ".join(
        f"WHEN {d} THEN {p!r}" for d, p in _BENFORD_P.items()
    ) + " END"
    # CAST per branch: DuckDB parses bare decimal literals as
    # DECIMAL(7,6), which the type-strict value compare rejects
    shown_case = "CASE digit " + " ".join(
        f"WHEN {d} THEN CAST({round(p, 6)!r} AS DOUBLE)"
        for d, p in _BENFORD_P.items()
    ) + " END"
    return f"""
WITH ev AS (
  SELECT event_type, abs(CAST(round(value * 100) AS BIGINT)) AS vc FROM events
),
d AS (
  SELECT event_type,
         CAST(substr(CAST(vc AS VARCHAR), 1, 1) AS INT) AS digit,
         count(*) AS n_obs
  FROM ev WHERE vc > 0 GROUP BY 1, 2
)
SELECT event_type, digit, n_obs,
       round(CAST(n_obs AS DOUBLE)
             / CAST(sum(n_obs) OVER (PARTITION BY event_type) AS DOUBLE), 6)
         AS obs_share,
       {shown_case} AS benford_share,
       round(CAST(n_obs AS DOUBLE)
             / CAST(sum(n_obs) OVER (PARTITION BY event_type) AS DOUBLE)
             - {exp_case}, 6) AS dev
FROM d ORDER BY event_type, digit"""


SQL_BENFORD_DIGITS = _benford_sql()


def q_theil_sen_trend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-series monotone-trend analysis on the daily aggregates:
    the Theil–Sen slope (median of all pairwise day-to-day slopes —
    Theil 1950 / Sen 1968) and the Mann–Kendall S statistic with its
    tie-corrected normal approximation z (Mann 1945 / Kendall 1975)
    — the standard robust trend pair in environmental / water-quality
    series analysis, i.e. the trend-question companion to the
    reference's WRTDS anomaly finder
    (/root/reference/scripts/ufz_water_qc_pipeline.py:606-621).

    Exactness: daily values are exact centi-unit BIGINT sums; each
    pairwise slope is ONE division of two BIGINT diffs (deterministic
    per pair); the Sen slope is a median selection rounded to 6dp in
    BOTH dialects (ADVICE r8: the even-count midpoint interpolation
    is engine-internal, so the raw double is not pinned bit-for-bit);
    S is an integer sum of signs; var(S) and z come from exact
    integer counts and tie-group sizes, z rounded 6dp.

    Scale: the pair set is quadratic in DAYS PER SERIES, not rows —
    bounded by (span_days choose 2) per key (a decade-long daily
    series is ~6.6M pairs, one task's work); the self-join is
    per-series co-partitioned and the day table it joins is already
    aggregated. Ties and S ride the same daily table."""
    ev = _events(spark, sf_dir)
    daily = ev.groupBy(
        "event_type", (F.col("ts_us") / _DAY_US).cast("long").alias("d")
    ).agg(F.sum("vc").alias("v"))
    a = daily.select("event_type", F.col("d").alias("da"), F.col("v").alias("va"))
    b = daily.select("event_type", F.col("d").alias("db"), F.col("v").alias("vb"))
    pairs = a.join(b, "event_type").filter(F.col("da") < F.col("db"))
    slope = (F.col("vb") - F.col("va")).cast("double") / (
        F.col("db") - F.col("da")
    ).cast("double")
    p = pairs.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_pairs"),
        F.round(F.median(slope), 6).alias("sen_slope_c"),
        F.sum(F.signum(F.col("vb") - F.col("va")).cast("long")).alias("mk_s"),
    )
    ties = (
        daily.groupBy("event_type", "v")
        .agg(F.count(F.lit(1)).alias("_t"))
        .groupBy("event_type")
        .agg(
            F.sum(F.lit(1) * F.col("_t")).alias("n_days"),
            F.sum(
                F.col("_t") * (F.col("_t") - 1) * (2 * F.col("_t") + 5)
            ).alias("_tie_term"),
        )
    )
    j = p.join(ties, "event_type")
    n = F.col("n_days")
    var_s = (
        (n * (n - 1) * (2 * n + 5) - F.col("_tie_term")).cast("double")
        / F.lit(18.0)
    )
    s = F.col("mk_s")
    z = F.when(var_s <= 0, F.lit(0.0)).otherwise(
        F.when(s > 0, (s - 1).cast("double") / F.sqrt(var_s))
        .when(s < 0, (s + 1).cast("double") / F.sqrt(var_s))
        .otherwise(F.lit(0.0))
    )
    return j.select(
        "event_type",
        "n_days",
        "n_pairs",
        "sen_slope_c",
        "mk_s",
        F.round(z, 6).alias("mk_z"),
    ).orderBy("event_type")


SQL_THEIL_SEN_TREND = f"""
WITH daily AS (
  SELECT event_type, epoch_us(ts) // {_DAY_US} AS d,
         CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS v
  FROM events GROUP BY 1, 2
),
p AS (
  SELECT a.event_type,
         count(*) AS n_pairs,
         round(median(CAST(b.v - a.v AS DOUBLE) / CAST(b.d - a.d AS DOUBLE)), 6)
           AS sen_slope_c,
         CAST(sum(CAST(sign(b.v - a.v) AS BIGINT)) AS BIGINT) AS mk_s
  FROM daily a JOIN daily b
    ON a.event_type = b.event_type AND a.d < b.d
  GROUP BY 1
),
ties AS (
  SELECT event_type,
         CAST(sum(t) AS BIGINT) AS n_days,
         CAST(sum(t * (t - 1) * (2 * t + 5)) AS BIGINT) AS tie_term
  FROM (SELECT event_type, v, count(*) AS t FROM daily GROUP BY 1, 2)
  GROUP BY 1
)
SELECT p.event_type, n_days, n_pairs, sen_slope_c, mk_s,
       round(CASE
         WHEN (n_days * (n_days - 1) * (2 * n_days + 5) - tie_term) <= 0 THEN 0.0
         WHEN mk_s > 0 THEN CAST(mk_s - 1 AS DOUBLE)
              / sqrt(CAST(n_days * (n_days - 1) * (2 * n_days + 5) - tie_term AS DOUBLE) / 18.0)
         WHEN mk_s < 0 THEN CAST(mk_s + 1 AS DOUBLE)
              / sqrt(CAST(n_days * (n_days - 1) * (2 * n_days + 5) - tie_term AS DOUBLE) / 18.0)
         ELSE 0.0 END, 6) AS mk_z
FROM p JOIN ties USING (event_type)
ORDER BY p.event_type"""


ENTRIES = {
    "a1_dup_median": (q_a1_dup_median, SQL_A1),
    "a2_sentinels": (q_a2_sentinels, SQL_A2),
    "a3_step_infer": (q_a3_step_infer, SQL_A3),
    "a4_decimal_hist": (q_a4_decimal_hist, SQL_A4),
    "a5_mode_cents": (q_a5_mode_cents, SQL_A5),
    "a6_diff_quantiles": (q_a6_diff_quantiles, SQL_A6),
    "a6_quant_step": (q_a6_quant_step, SQL_A6B),
    "a7_seasonal": (q_a7_seasonal, SQL_A7),
    "a8_global_robust_z": (q_a8_global_robust_z, SQL_A8),
    "a9_availability": (q_a9_availability, SQL_A9),
    "acf_lags": (q_acf_lags, SQL_ACF_LAGS),
    "asof_join": (q_asof_join, SQL_ASOF),
    "benford_digits": (q_benford_digits, SQL_BENFORD_DIGITS),
    "control_chart_days": (q_control_chart_days, SQL_CONTROL_CHART_DAYS),
    "cusum_changepoint": (q_cusum_changepoint, SQL_CUSUM_CHANGEPOINT),
    "des_forecast_mae": (q_des_forecast_mae, SQL_DES_FORECAST_MAE),
    "ewma_series": (q_ewma_series, SQL_EWMA_SERIES),
    "gap_lerp": (q_gap_lerp, SQL_GAP_LERP),
    "j3_range_join": (q_j3_range_join, SQL_J3),
    "linreg_daily": (q_linreg_daily, SQL_LINREG_DAILY),
    "ohlc_hourly": (q_ohlc_hourly, SQL_OHLC_HOURLY),
    "p16_pivot": (q_p16_pivot, SQL_P16),
    "p2_time_slice": (q_p2_time_slice, SQL_P2),
    "qc_accepted": (q_qc_accepted, SQL_QC_ACCEPTED),
    "qc_full_suite": (q_qc_full_suite, SQL_QC_FULL_SUITE),
    "rollup_merge": (q_rollup_merge, SQL_ROLLUP_MERGE),
    "seasonal_hours": (q_seasonal_hours, SQL_SEASONAL_HOURS),
    "seasonal_naive_mae": (q_seasonal_naive_mae, SQL_SEASONAL_NAIVE_MAE),
    "sentem_flags": (q_sentem_flags, SQL_SENTEM_FLAGS),
    "theil_sen_trend": (q_theil_sen_trend, SQL_THEIL_SEN_TREND),
    "time_grid_ffill": (q_time_grid_ffill, SQL_TIME_GRID_FFILL),
    "twa_daily": (q_twa_daily, SQL_TWA_DAILY),
    "unpivot_metrics": (q_unpivot_metrics, SQL_UNPIVOT_METRICS),
    "value_percentiles": (q_value_percentiles, SQL_VALUE_PERCENTILES),
    "w12_bands": (q_w12_bands, SQL_W12),
    "w13_tri5": (q_w13_tri5, SQL_W13),
    "w15_band_support": (q_w15_band_support, SQL_W15),
    "w16_gaussian": (q_w16_gaussian, SQL_W16),
    "w17_resample_hourly": (q_w17_resample_hourly, SQL_W17),
    "w1_jumps": (q_w1_jumps, SQL_W1),
    "w2_gaps": (q_w2_gaps, SQL_W2),
    "w4_binary_switches": (q_w4_binary_switches, SQL_W4),
    "w5_flat_runs": (q_w5_flat_runs, SQL_W5),
    "w6_flat_slopes": (q_w6_flat_slopes, SQL_W6),
    "w7_rolling_var": (q_w7_rolling_var, SQL_W7),
    "w8_robust_z": (q_w8_robust_z, SQL_W8),
    "w9_isolated": (q_w9_isolated, SQL_W9),
    "winsorize": (q_winsorize, SQL_WINSORIZE),
    "wrtds_residuals": (q_wrtds_residuals, None),
    "wrtds_residuals_q": (q_wrtds_residuals_q, None),
    "xcorr_daily": (q_xcorr_daily, SQL_XCORR_DAILY),
}
