"""Lakehouse / CDC family: snapshot reads, MERGE INTO, SCD2 history,
the merge-on-read change-data surface (base + change log resolution,
incremental reads between versions, time travel, compaction and vacuum
planning, commit-conflict validation, incremental view maintenance),
governance sweeps (right-to-be-forgotten, k-anonymity) and storage
layout reports (z-order).

CDC framing, deterministic from the driver's events table: every event
row is a change record on key (user_id, event_type) with sequence =
(ts, event_id); rows whose event_id % 5 == 0 are DELETE markers, the
rest upserts. "Table versions" are µs cut points at fixed fractions of
the observed ts span — exact BIGINT arithmetic, identical in both
dialects.

Scale: one shuffle per key window or hash agg. The span cut is a 1-row
global agg broadcast back (the two-pass scalar pattern, SURVEY §4.1);
raw rows shuffle once on the key; nothing quadratic, nothing collected."""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession, Window, functions as F

from wq_data_pipeline_spark.plans.qc import _DAY_US, _events
from wq_data_pipeline_spark.sources.testdata import load_table


# --- zorder_layout ----------------------------------------------------------

_ZO_BITS = 16  # bits per dimension interleaved into the z-value
_ZO_BUCKETS = 64  # equal-width z-range buckets (files, in a real layout)
# the box query the skipping report evaluates: users 100-200, first day
_ZO_U0, _ZO_U1 = 100, 200
_ZO_M0, _ZO_M1 = 0, 1440  # minutes since epoch-min of the table


def _interleave_bits(x: F.Column, y: F.Column) -> F.Column:
    """Morton z-value: interleave the low ``_ZO_BITS`` bits of x and y
    (x on even positions, y on odd) — pure 64-bit integer bit algebra,
    identical in DuckDB."""
    z = F.lit(0).cast("long")
    for i in range(_ZO_BITS):
        z = z + F.shiftleft(F.shiftright(x, i).bitwiseAND(F.lit(1)), 2 * i)
        z = z + F.shiftleft(F.shiftright(y, i).bitwiseAND(F.lit(1)), 2 * i + 1)
    return z


def _interleave_sql(x: str, y: str) -> str:
    """SQL mirror of :func:`_interleave_bits` — shared by the zorder
    and layout-comparison oracles so the bit layout can't diverge."""
    terms = []
    for i in range(_ZO_BITS):
        terms.append(f"((({x} >> {i}) & 1) << {2 * i})")
        terms.append(f"((({y} >> {i}) & 1) << {2 * i + 1})")
    return " + ".join(terms)


def _zo_skippable(u_min, u_max, m_min, m_max) -> F.Column:
    """Bucket skippability for the representative 2-D box query —
    shared by zorder_layout and layout_compare."""
    return ~(
        (u_min <= _ZO_U1) & (u_max >= _ZO_U0) & (m_min <= _ZO_M1) & (m_max >= _ZO_M0)
    )


def q_zorder_layout(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Z-order (Morton) clustering layout report — the storage-layout
    side of 100-TB efficiency (Delta/Iceberg OPTIMIZE ZORDER): compute
    the interleaved z-value over (user_id, event minute), split the
    z-range into ``_ZO_BUCKETS`` equal-width buckets (files), and
    report per bucket the row count, both dimensions' min/max (the
    footer stats a reader would consult), and whether the bucket is
    SKIPPABLE for a representative box query (users 100-200 on day 1).
    Because z-order keeps both dimensions locally coherent, most
    buckets are skippable for a 2-D box — the property a
    single-column sort lacks on its second dimension.

    Scale shape: the z-value is per-row bit algebra (no shuffle); the
    bucket id is equal-width on the z-range (two broadcast scalars —
    at write time this is repartitionByRange on z, the same sampling
    machinery as a global sort); the report is one hash agg. Minutes
    are taken relative to the table's min timestamp so the bucket
    layout is content-deterministic, not wall-clock-dependent."""
    ev = load_table(spark, sf_dir, "events").select("user_id", "ts")
    base = ev.select(
        F.col("user_id").cast("long").alias("u"),
        F.floor(F.unix_micros("ts") / F.lit(60_000_000)).cast("long").alias("m"),
    )
    bounds = base.agg(
        F.min("m").alias("m_min"),
        F.max("m").alias("m_max"),
        F.max("u").alias("u_max"),
    )
    b = base.crossJoin(F.broadcast(bounds)).select(
        "u",
        (F.col("m") - F.col("m_min")).alias("mrel"),
        "m_min",
        "m_max",
        "u_max",
    )
    z = _interleave_bits(F.col("u"), F.col("mrel"))
    zmax = _interleave_bits(F.col("u_max"), F.col("m_max") - F.col("m_min"))
    # equal-width z-range buckets; +1 so z == zmax lands in the last
    bucket = F.least(
        F.lit(_ZO_BUCKETS - 1).cast("long"),
        F.floor(
            (z * F.lit(_ZO_BUCKETS)).cast("double") / (zmax + 1).cast("double")
        ).cast("long"),
    )
    per = (
        b.withColumn("bucket", bucket)
        .groupBy("bucket")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_rows"),
            F.min("u").alias("u_min"),
            F.max("u").alias("u_max_b"),
            F.min("mrel").alias("m_min_b"),
            F.max("mrel").alias("m_max_b"),
        )
    )
    skippable = _zo_skippable(
        F.col("u_min"), F.col("u_max_b"), F.col("m_min_b"), F.col("m_max_b")
    )
    return per.select(
        "bucket",
        "n_rows",
        "u_min",
        F.col("u_max_b").alias("u_max"),
        F.col("m_min_b").alias("m_min"),
        F.col("m_max_b").alias("m_max"),
        skippable.alias("skippable"),
    )


def _zorder_sql() -> str:
    return f"""
WITH e AS (
  SELECT CAST(user_id AS BIGINT) AS u,
         CAST(epoch_us(ts) // 60000000 AS BIGINT) AS m
  FROM events
),
bounds AS (SELECT min(m) AS m_min, max(m) AS m_max, max(u) AS u_max FROM e),
b AS (
  SELECT u, m - bounds.m_min AS mrel, bounds.m_max - bounds.m_min AS mrel_max,
         bounds.u_max AS u_max
  FROM e CROSS JOIN bounds
),
zc AS (
  SELECT u, mrel,
         {_interleave_sql('u', 'mrel')} AS z,
         {_interleave_sql('u_max', 'mrel_max')} AS zmax
  FROM b
),
pb AS (
  SELECT least({_ZO_BUCKETS - 1}, (z * {_ZO_BUCKETS}) // (zmax + 1)) AS bucket,
         u, mrel
  FROM zc
),
agg AS (
  SELECT bucket, CAST(count(*) AS BIGINT) AS n_rows,
         min(u) AS u_min, max(u) AS u_max,
         min(mrel) AS m_min, max(mrel) AS m_max
  FROM pb GROUP BY bucket
)
SELECT CAST(bucket AS BIGINT) AS bucket, n_rows, u_min, u_max, m_min, m_max,
       NOT (u_min <= {_ZO_U1} AND u_max >= {_ZO_U0}
            AND m_min <= {_ZO_M1} AND m_max >= {_ZO_M0}) AS skippable
FROM agg"""


SQL_ZORDER_LAYOUT = _zorder_sql()


# --- layout_compare ---------------------------------------------------------


def q_layout_compare(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quantifies WHY z-order: bucket the events table three ways —
    z-order (Morton interleave), user-major sort, time-major sort —
    into the same number of equal-width key-range buckets, and report
    per layout how many buckets (and rows) the representative 2-D box
    query can skip on footer stats alone. Single-column sorts skip
    well on their own dimension and poorly on the other; z-order
    skips on both. One scan computes all three keys, one explode +
    one hash agg does the rest — the whole comparison is one shuffle.

    All three keys are exact BIGINT compositions (the sort-key pairs
    are packed as a*(max_b+1)+b), so bucket boundaries are
    engine-identical."""
    ev = load_table(spark, sf_dir, "events").select("user_id", "ts")
    base = ev.select(
        F.col("user_id").cast("long").alias("u"),
        F.floor(F.unix_micros("ts") / F.lit(60_000_000)).cast("long").alias("m"),
    )
    bounds = base.agg(
        F.min("m").alias("m_min"), F.max("m").alias("m_max"), F.max("u").alias("u_max")
    )
    b = base.crossJoin(F.broadcast(bounds)).select(
        "u",
        (F.col("m") - F.col("m_min")).alias("mr"),
        (F.col("m_max") - F.col("m_min")).alias("mr_max"),
        "u_max",
    )
    z = _interleave_bits(F.col("u"), F.col("mr"))
    zmax = _interleave_bits(F.col("u_max"), F.col("mr_max"))
    k_user = F.col("u") * (F.col("mr_max") + 1) + F.col("mr")
    k_user_max = F.col("u_max") * (F.col("mr_max") + 1) + F.col("mr_max")
    k_time = F.col("mr") * (F.col("u_max") + 1) + F.col("u")
    k_time_max = F.col("mr_max") * (F.col("u_max") + 1) + F.col("u_max")

    def bkt(k: F.Column, kmax: F.Column) -> F.Column:
        return F.least(
            F.lit(_ZO_BUCKETS - 1).cast("long"),
            F.floor(
                (k * F.lit(_ZO_BUCKETS)).cast("double") / (kmax + 1).cast("double")
            ).cast("long"),
        )

    layouts = F.array(
        F.struct(F.lit("zorder").alias("layout"), bkt(z, zmax).alias("bucket")),
        F.struct(
            F.lit("user_sort").alias("layout"), bkt(k_user, k_user_max).alias("bucket")
        ),
        F.struct(
            F.lit("time_sort").alias("layout"), bkt(k_time, k_time_max).alias("bucket")
        ),
    )
    rows = b.select("u", "mr", F.explode(layouts).alias("L")).select(
        "u", "mr", F.col("L.layout").alias("layout"), F.col("L.bucket").alias("bucket")
    )
    per = rows.groupBy("layout", "bucket").agg(
        F.count(F.lit(1)).cast("long").alias("n_rows"),
        F.min("u").alias("u_min"),
        F.max("u").alias("u_max"),
        F.min("mr").alias("m_min"),
        F.max("mr").alias("m_max"),
    )
    skippable = _zo_skippable(
        F.col("u_min"), F.col("u_max"), F.col("m_min"), F.col("m_max")
    )
    agg = per.withColumn("skip", skippable).groupBy("layout").agg(
        F.count(F.lit(1)).cast("long").alias("n_buckets"),
        F.sum(F.col("skip").cast("long")).cast("long").alias("n_skippable"),
        F.sum(F.when(F.col("skip"), F.col("n_rows")).otherwise(F.lit(0)))
        .cast("long")
        .alias("rows_skipped"),
        F.sum("n_rows").cast("long").alias("rows_total"),
    )
    return agg.withColumn(
        "skip_pct_micro",
        F.floor(
            (F.col("rows_skipped") * F.lit(1_000_000)).cast("double")
            / F.col("rows_total").cast("double")
        ).cast("long"),
    )


def _layout_compare_sql() -> str:
    def bkt(k: str, kmax: str) -> str:
        return f"least({_ZO_BUCKETS - 1}, ({k} * {_ZO_BUCKETS}) // ({kmax} + 1))"

    return f"""
WITH e AS (
  SELECT CAST(user_id AS BIGINT) AS u,
         CAST(epoch_us(ts) // 60000000 AS BIGINT) AS m
  FROM events
),
bounds AS (SELECT min(m) AS m_min, max(m) AS m_max, max(u) AS u_max FROM e),
b AS (
  SELECT u, m - bounds.m_min AS mr, bounds.m_max - bounds.m_min AS mr_max,
         bounds.u_max AS u_max
  FROM e CROSS JOIN bounds
),
keyed AS (
  SELECT u, mr,
         {_interleave_sql('u', 'mr')} AS z, {_interleave_sql('u_max', 'mr_max')} AS zmax,
         u * (mr_max + 1) + mr AS ku, u_max * (mr_max + 1) + mr_max AS kumax,
         mr * (u_max + 1) + u AS kt, mr_max * (u_max + 1) + u_max AS ktmax
  FROM b
),
rows_l AS (
  SELECT u, mr, 'zorder' AS layout, {bkt('z', 'zmax')} AS bucket FROM keyed
  UNION ALL
  SELECT u, mr, 'user_sort', {bkt('ku', 'kumax')} FROM keyed
  UNION ALL
  SELECT u, mr, 'time_sort', {bkt('kt', 'ktmax')} FROM keyed
),
per AS (
  SELECT layout, bucket, CAST(count(*) AS BIGINT) AS n_rows,
         min(u) AS u_min, max(u) AS u_max, min(mr) AS m_min, max(mr) AS m_max
  FROM rows_l GROUP BY layout, bucket
),
marked AS (
  SELECT *, NOT (u_min <= {_ZO_U1} AND u_max >= {_ZO_U0}
                 AND m_min <= {_ZO_M1} AND m_max >= {_ZO_M0}) AS skip
  FROM per
),
agg AS (
  SELECT layout, CAST(count(*) AS BIGINT) AS n_buckets,
         CAST(sum(CASE WHEN skip THEN 1 ELSE 0 END) AS BIGINT) AS n_skippable,
         CAST(sum(CASE WHEN skip THEN n_rows ELSE 0 END) AS BIGINT) AS rows_skipped,
         CAST(sum(n_rows) AS BIGINT) AS rows_total
  FROM marked GROUP BY layout
)
SELECT layout, n_buckets, n_skippable, rows_skipped, rows_total,
       CAST((rows_skipped * 1000000) // rows_total AS BIGINT) AS skip_pct_micro
FROM agg"""


SQL_LAYOUT_COMPARE = _layout_compare_sql()


def q_latest_snapshot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CDC/upsert latest-snapshot view: one row per (user_id,
    event_type) — the most recent version by (ts, event_id) — plus the
    version count. The standard warehouse MERGE-read pattern (Delta/
    Iceberg snapshot reads compact to exactly this). Window partitions
    on the key, so parallelism scales with key cardinality and no
    global sort exists; at 100 TB this is one shuffle on the key."""
    ev = load_table(spark, sf_dir, "events")
    from pyspark.sql import Window

    w = Window.partitionBy("user_id", "event_type").orderBy(
        F.desc("ts"), F.desc("event_id")
    )
    return (
        ev.withColumn("_rn", F.row_number().over(w))
        .withColumn(
            "n_versions",
            F.count(F.lit(1)).over(
                Window.partitionBy("user_id", "event_type")
            ),
        )
        .filter(F.col("_rn") == 1)
        .select(
            "user_id",
            "event_type",
            F.unix_micros("ts").alias("ts_us"),
            "value",
            "n_versions",
        )
    )


SQL_LATEST_SNAPSHOT = """
SELECT user_id, event_type, epoch_us(ts) AS ts_us, value, n_versions FROM (
  SELECT user_id, event_type, ts, value, event_id,
         row_number() OVER (PARTITION BY user_id, event_type
                            ORDER BY ts DESC, event_id DESC) AS rn,
         count(*) OVER (PARTITION BY user_id, event_type) AS n_versions
  FROM events
) WHERE rn = 1"""


def q_scd2_intervals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Slowly-changing-dimension type-2 history build: each version of
    a (user_id, event_type) key becomes a validity interval
    [valid_from, valid_to) closed by the NEXT version's timestamp;
    the last version stays open (is_current). One window partitioned
    by the key — parallelism scales with key cardinality, no global
    sort; the standard way a warehouse derives SCD2 history from an
    append-only change log."""
    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id", "event_type").orderBy("ts", "event_id")
    nxt = F.lead(F.unix_micros("ts")).over(w)
    return ev.select(
        "user_id",
        "event_type",
        "event_id",
        F.unix_micros("ts").alias("valid_from_us"),
        nxt.alias("valid_to_us"),
        "value",
        F.row_number().over(w).alias("version_n"),
        nxt.isNull().alias("is_current"),
    )


SQL_SCD2_INTERVALS = """
SELECT user_id, event_type, event_id,
       epoch_us(ts) AS valid_from_us,
       lead(epoch_us(ts)) OVER w AS valid_to_us,
       value,
       row_number() OVER w AS version_n,
       lead(epoch_us(ts)) OVER w IS NULL AS is_current
FROM events
WINDOW w AS (PARTITION BY user_id, event_type ORDER BY ts, event_id)"""


_MU_NEW_OFFSET = 10_000_000  # synthetic insert keys sit above real ids


def q_merge_upsert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MERGE INTO semantics as a batch operator (the Delta/Iceberg
    upsert, expressed engine-neutrally): a deterministic updates feed
    (every 10th event re-arrives with a corrected value; the same
    rows ALSO arrive as brand-new keys) is merged into the target on
    the primary key — matched rows take the update's value, unmatched
    updates insert, everything else carries over. One full-outer hash
    join on the key; at scale this is exactly the shuffle MERGE INTO
    performs (or a broadcast join when the delta is small — AQE picks
    that here)."""
    ev = load_table(spark, sf_dir, "events").select(
        "event_id", "user_id", "event_type", F.unix_micros("ts").alias("ts_us"), "value"
    ).withColumn("_tpresent", F.lit(True))
    upd_src = ev.filter(F.col("event_id") % 10 == 0)
    updates = upd_src.select(
        "event_id", "user_id", "event_type", "ts_us",
        (F.col("value") + 100.0).alias("value"),
    ).unionByName(
        upd_src.select(
            (F.col("event_id") + _MU_NEW_OFFSET).alias("event_id"),
            "user_id",
            "event_type",
            "ts_us",
            (F.col("value") * 2.0).alias("value"),
        )
    )
    u = updates.select(
        F.col("event_id"),
        F.col("user_id").alias("_uu"),
        F.col("event_type").alias("_ue"),
        F.col("ts_us").alias("_ut"),
        F.col("value").alias("_uv"),
        F.lit(True).alias("_upresent"),
    )
    merged = ev.join(u, "event_id", "full_outer")
    return merged.select(
        "event_id",
        F.coalesce(F.col("_uu"), F.col("user_id")).alias("user_id"),
        F.coalesce(F.col("_ue"), F.col("event_type")).alias("event_type"),
        F.coalesce(F.col("_ut"), F.col("ts_us")).alias("ts_us"),
        F.coalesce(F.col("_uv"), F.col("value")).alias("value"),
        # presence markers, not value nullness: a matched update whose
        # payload value is NULL must still read as updated
        (F.col("_upresent").isNotNull() & F.col("_tpresent").isNotNull()).alias(
            "was_updated"
        ),
        F.col("_tpresent").isNull().alias("was_inserted"),
    )


SQL_MERGE_UPSERT = f"""
WITH t AS (
  SELECT event_id, user_id, event_type, epoch_us(ts) AS ts_us, value FROM events
),
u AS (
  SELECT event_id, user_id, event_type, ts_us, value + 100.0 AS value
  FROM t WHERE event_id % 10 = 0
  UNION ALL
  SELECT event_id + {_MU_NEW_OFFSET}, user_id, event_type, ts_us, value * 2.0
  FROM t WHERE event_id % 10 = 0
)
SELECT coalesce(t.event_id, u.event_id) AS event_id,
       coalesce(u.user_id, t.user_id) AS user_id,
       coalesce(u.event_type, t.event_type) AS event_type,
       coalesce(u.ts_us, t.ts_us) AS ts_us,
       coalesce(u.value, t.value) AS value,
       u.event_id IS NOT NULL AND t.event_id IS NOT NULL AS was_updated,
       t.event_id IS NULL AS was_inserted
FROM t FULL OUTER JOIN u ON t.event_id = u.event_id"""


_T1 = "2024-01-15"
_T2 = "2024-01-25"


def q_snapshot_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user as-of state at {_T1} vs {_T2} and its change class.

    Scale: one hash aggregate over the scan — the two snapshot
    states are conditional struct-max aggregates (map-side
    combinable), so diffing two 'versions' needs neither a second
    scan nor a self-join."""
    ev = _events(spark, sf_dir)
    t1_us = F.lit(f"{_T1} 00:00:00").cast("timestamp")
    t2_us = F.lit(f"{_T2} 00:00:00").cast("timestamp")
    t1 = F.unix_micros(t1_us)
    t2 = F.unix_micros(t2_us)
    st = F.struct(F.col("ts_us"), F.col("event_id"), F.col("vc"))
    agg = ev.groupBy("user_id").agg(
        F.max(F.when(F.col("ts_us") < t1, st)).alias("s1"),
        F.max(F.when(F.col("ts_us") < t2, st)).alias("s2"),
    )
    v1 = F.col("s1").getField("vc")
    v2 = F.col("s2").getField("vc")
    status = (
        F.when(F.col("s1").isNull() & F.col("s2").isNotNull(), F.lit("added"))
        .when(F.col("s2").isNull(), F.lit("absent"))
        .when(v1 != v2, F.lit("changed"))
        .otherwise(F.lit("unchanged"))
    )
    return agg.select(
        "user_id",
        v1.alias("v1"),
        v2.alias("v2"),
        status.alias("status"),
    ).orderBy("user_id")


SQL_SNAPSHOT_DIFF = f"""
WITH agg AS (
  SELECT user_id,
         max(CASE WHEN ts < TIMESTAMP '{_T1} 00:00:00'
                  THEN {{'ts_us': epoch_us(ts), 'event_id': event_id,
                         'vc': CAST(round(value * 100) AS BIGINT)}} END) AS s1,
         max(CASE WHEN ts < TIMESTAMP '{_T2} 00:00:00'
                  THEN {{'ts_us': epoch_us(ts), 'event_id': event_id,
                         'vc': CAST(round(value * 100) AS BIGINT)}} END) AS s2
  FROM events GROUP BY 1
)
SELECT user_id,
       s1.vc AS v1,
       s2.vc AS v2,
       CASE WHEN s1 IS NULL AND s2 IS NOT NULL THEN 'added'
            WHEN s2 IS NULL THEN 'absent'
            WHEN s1.vc <> s2.vc THEN 'changed'
            ELSE 'unchanged' END AS status
FROM agg ORDER BY 1"""


# version cut points, in tenths of the observed [min_ts, max_ts] µs
# span: the base snapshot is "version as of 7/10"; the incremental
# read consumes (4/10, 7/10]
_CUT_NUM = 7
_LO_NUM = 4
_DEN = 10

# cdc_time_travel's as-of version cut, in hundredths of the observed
# µs span: strictly between the batch-27 base cut (4/10 = 40/100) and
# log head (7/10), so the read replays a strict PREFIX of the change log
_TT_NUM = 55
_TT_DEN = 100

# the read cuts of every CDC entry: incremental lo (4/10), the
# base/log head (7/10) and the time-travel as-of (55/100); an entry's
# plan keeps only the cut columns it reads (column pruning)
_CUTS = {
    "_lo_us": (_LO_NUM, _DEN),
    "_cut_us": (_CUT_NUM, _DEN),
    "_asof_us": (_TT_NUM, _TT_DEN),
}


def _records(spark: SparkSession, sf_dir: str) -> DataFrame:
    """events as CDC records: key (user_id, event_type), sequence
    (ts_us, event_id), op ('D' delete marker / 'U' upsert), plus one
    µs cut column per ``_CUTS`` entry (name -> (num, den): num/den of
    the observed span) broadcast onto every row (1-row agg cross-join —
    stays one lazy plan, no driver round-trip)."""
    ev = load_table(spark, sf_dir, "events").select(
        "user_id",
        "event_type",
        F.unix_micros("ts").alias("ts_us"),
        "event_id",
        "value",
        F.when(F.col("event_id") % 5 == 0, F.lit("D"))
        .otherwise(F.lit("U"))
        .alias("op"),
    )
    # integer DIV, not float "/ then cast": DuckDB CASTs doubles to
    # BIGINT by ROUNDING while Spark truncates — at µs resolution the
    # two cuts could land 1 µs apart (oracle-exactness convention)
    span = ev.agg(
        F.min("ts_us").alias("_t0"), F.max("ts_us").alias("_t1")
    ).select(
        *[
            F.expr(f"_t0 + (_t1 - _t0) * {num} DIV {den}").alias(name)
            for name, (num, den) in _CUTS.items()
        ]
    )
    return ev.join(F.broadcast(span))


_KEY = ["user_id", "event_type"]


def _latest(df: DataFrame, **per_key: Column) -> DataFrame:
    """The latest record per _KEY by (ts_us, event_id) — the resolved
    state as of whatever cut ``df`` was filtered to — plus each
    ``per_key`` aggregate taken over all of the key's rows. Delete
    markers can win; callers that read live rows filter op == 'U'
    after."""
    k = Window.partitionBy(*_KEY)
    w = k.orderBy(F.desc("ts_us"), F.desc("event_id"))
    return (
        df.withColumn("_rn", F.row_number().over(w))
        .withColumns({name: agg.over(k) for name, agg in per_key.items()})
        .filter(F.col("_rn") == 1)
        .drop("_rn")
    )


def q_cdc_merge_on_read(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Merge-on-read CDC view: the base snapshot (latest record per
    key as of the 7/10 cut — what a compactor would have written)
    overlaid at READ time with the change log (every record after
    the cut, upserts and delete markers). For each key the winning
    record is the latest by (ts, event_id) across base+log; a
    winning delete marker removes the key from the view. Emits the
    resolved row plus the read-amplification facts a MoR table
    exposes per key: how many log records the read had to merge and
    whether the winner came from the log.

    Scale: base and log are filters of ONE scan; the overlay is a
    single row_number window on the key — the same one shuffle the
    copy-on-write ``latest_snapshot`` pays, plus zero extra joins.
    This is exactly why MoR reads stay cheap when the log is thin
    and why ``compaction_plan`` watches the ratio."""
    r = _records(spark, sf_dir)
    base = (
        _latest(r.filter(F.col("ts_us") <= F.col("_cut_us")))
        # the base file is a resolved snapshot: delete markers that
        # "won" at compaction time simply left no row behind
        .filter(F.col("op") == "U")
        .select(*_KEY, "ts_us", "event_id", "value", "op")
        .withColumn("from_log", F.lit(False))
    )
    log = (
        r.filter(F.col("ts_us") > F.col("_cut_us"))
        .select(*_KEY, "ts_us", "event_id", "value", "op")
        .withColumn("from_log", F.lit(True))
    )
    merged = base.unionByName(log)
    return (
        _latest(merged, n_log_records=F.sum(F.col("from_log").cast("long")))
        .filter(F.col("op") == "U")
        .select(
            "user_id",
            "event_type",
            "ts_us",
            "value",
            "n_log_records",
            "from_log",
        )
    )


SQL_CDC_MERGE_ON_READ = f"""
WITH r AS (
  SELECT user_id, event_type, epoch_us(ts) AS ts_us, event_id, value,
         CASE WHEN event_id % 5 = 0 THEN 'D' ELSE 'U' END AS op
  FROM events
),
span AS (
  SELECT min(ts_us) + (max(ts_us) - min(ts_us)) * {_CUT_NUM} // {_DEN} AS cut_us
  FROM r
),
base AS (
  SELECT user_id, event_type, ts_us, event_id, value, op, FALSE AS from_log
  FROM (
    SELECT r.*, row_number() OVER (PARTITION BY user_id, event_type
                                   ORDER BY ts_us DESC, event_id DESC) AS rn
    FROM r, span WHERE ts_us <= cut_us
  ) WHERE rn = 1 AND op = 'U'
),
log AS (
  SELECT user_id, event_type, ts_us, event_id, value, op, TRUE AS from_log
  FROM r, span WHERE ts_us > cut_us
),
merged AS (SELECT * FROM base UNION ALL SELECT * FROM log)
SELECT user_id, event_type, ts_us, value, n_log_records, from_log FROM (
  SELECT user_id, event_type, ts_us, value, op, from_log,
         row_number() OVER (PARTITION BY user_id, event_type
                            ORDER BY ts_us DESC, event_id DESC) AS rn,
         CAST(sum(CASE WHEN from_log THEN 1 ELSE 0 END)
              OVER (PARTITION BY user_id, event_type) AS BIGINT)
           AS n_log_records
  FROM merged
) WHERE rn = 1 AND op = 'U'"""


def q_cdc_changes_between(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental read between two table versions — the
    ``table_changes(lo, hi)`` / CDF consumer pattern: for every key
    with activity in (lo, hi] (µs cuts at 4/10 and 7/10 of the ts
    span), emit its NET change: the pre-image (resolved state as of
    lo), the post-image (resolved state as of hi), and the change
    type a downstream incremental materialization would apply
    (insert / update / delete; keys whose net effect is a no-op —
    absent before AND deleted within the window — drop out). This is
    how a 100-TB pipeline avoids full-table reprocessing: consumers
    see |changed keys| rows, not |table| rows.

    Scale: two resolved states ride the SAME key-window shuffle on
    filtered subsets of one scan; the pre/post stitch is a per-key
    equi-join of two already-aggregated (one row per key) sides."""
    r = _records(spark, sf_dir)
    pre = (
        _latest(r.filter(F.col("ts_us") <= F.col("_lo_us")))
        .filter(F.col("op") == "U")
        .select(*_KEY, F.col("value").alias("pre_value"))
    )
    win = r.filter(
        (F.col("ts_us") > F.col("_lo_us")) & (F.col("ts_us") <= F.col("_cut_us"))
    )
    post = _latest(win, n_changes=F.count(F.lit(1))).select(
        *_KEY,
        F.col("ts_us").alias("post_ts_us"),
        F.col("value").alias("post_raw"),
        "op",
        "n_changes",
    )
    j = post.join(pre, _KEY, "left")
    deleted = F.col("op") == "D"
    change_type = (
        F.when(deleted & F.col("pre_value").isNotNull(), F.lit("delete"))
        .when(~deleted & F.col("pre_value").isNotNull(), F.lit("update"))
        .when(~deleted, F.lit("insert"))
    )  # pre-absent delete -> NULL -> filtered: net no-op
    return (
        j.withColumn("change_type", change_type)
        .filter(F.col("change_type").isNotNull())
        .select(
            "user_id",
            "event_type",
            "change_type",
            "pre_value",
            F.when(~deleted, F.col("post_raw")).alias("post_value"),
            "post_ts_us",
            "n_changes",
        )
    )


SQL_CDC_CHANGES_BETWEEN = f"""
WITH r AS (
  SELECT user_id, event_type, epoch_us(ts) AS ts_us, event_id, value,
         CASE WHEN event_id % 5 = 0 THEN 'D' ELSE 'U' END AS op
  FROM events
),
span AS (
  SELECT min(ts_us) + (max(ts_us) - min(ts_us)) * {_LO_NUM} // {_DEN} AS lo_us,
         min(ts_us) + (max(ts_us) - min(ts_us)) * {_CUT_NUM} // {_DEN} AS cut_us
  FROM r
),
pre AS (
  SELECT user_id, event_type, value AS pre_value FROM (
    SELECT r.*, row_number() OVER (PARTITION BY user_id, event_type
                                   ORDER BY ts_us DESC, event_id DESC) AS rn
    FROM r, span WHERE ts_us <= lo_us
  ) WHERE rn = 1 AND op = 'U'
),
post AS (
  SELECT user_id, event_type, ts_us AS post_ts_us, value AS post_raw, op,
         n_changes
  FROM (
    SELECT r.*, row_number() OVER (PARTITION BY user_id, event_type
                                   ORDER BY ts_us DESC, event_id DESC) AS rn,
           CAST(count(*) OVER (PARTITION BY user_id, event_type) AS BIGINT)
             AS n_changes
    FROM r, span WHERE ts_us > lo_us AND ts_us <= cut_us
  ) WHERE rn = 1
)
SELECT user_id, event_type, change_type, pre_value,
       CASE WHEN change_type <> 'delete' THEN post_raw END AS post_value,
       post_ts_us, n_changes
FROM (
  SELECT post.user_id, post.event_type, post_ts_us, post_raw, n_changes,
         pre_value,
         CASE WHEN op = 'D' AND pre_value IS NOT NULL THEN 'delete'
              WHEN op <> 'D' AND pre_value IS NOT NULL THEN 'update'
              WHEN op <> 'D' THEN 'insert' END AS change_type
  FROM post LEFT JOIN pre USING (user_id, event_type)
) WHERE change_type IS NOT NULL"""


_N_BUCKETS = 32


def q_compaction_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Merge-on-read compaction planner: file groups (keys hash-
    bucketed by user_id % 32, standing in for the table's physical
    bucketing — see sources/bucketed.py for the real layout) are
    ranked by read amplification = log records per resolved base
    row. Buckets where the log has outgrown the base (ratio >= 1)
    are flagged for rewrite — the exact scheduling input Hudi's
    compactor and Iceberg's rewrite_data_files act on; delete-marker
    counts ride along because a delete-heavy log shrinks the rewrite
    output. Pure hash aggregation: one shuffle for the per-key base
    resolution (shared shape with q_cdc_merge_on_read), one map-side
    combinable rollup to 32 rows."""
    r = _records(spark, sf_dir)
    base_rows = (
        _latest(r.filter(F.col("ts_us") <= F.col("_cut_us")))
        .filter(F.col("op") == "U")
        .groupBy((F.col("user_id") % _N_BUCKETS).alias("bucket"))
        .agg(F.count(F.lit(1)).alias("base_rows"))
    )
    log_rows = (
        r.filter(F.col("ts_us") > F.col("_cut_us"))
        .groupBy((F.col("user_id") % _N_BUCKETS).alias("bucket"))
        .agg(
            F.count(F.lit(1)).alias("log_rows"),
            F.sum((F.col("op") == "D").cast("long")).alias("delete_rows"),
        )
    )
    j = base_rows.join(log_rows, "bucket", "full_outer").select(
        "bucket",
        F.coalesce("base_rows", F.lit(0)).alias("base_rows"),
        F.coalesce("log_rows", F.lit(0)).alias("log_rows"),
        F.coalesce("delete_rows", F.lit(0)).alias("delete_rows"),
    )
    amp = F.round(
        F.col("log_rows").cast("double")
        / F.greatest(F.col("base_rows"), F.lit(1)).cast("double"),
        6,
    )
    return j.select(
        "bucket",
        "base_rows",
        "log_rows",
        "delete_rows",
        amp.alias("amplification"),
        (F.col("log_rows") >= F.col("base_rows")).alias("needs_compaction"),
    ).orderBy("bucket")


SQL_COMPACTION_PLAN = f"""
WITH r AS (
  SELECT user_id, event_type, epoch_us(ts) AS ts_us, event_id,
         CASE WHEN event_id % 5 = 0 THEN 'D' ELSE 'U' END AS op
  FROM events
),
span AS (
  SELECT min(ts_us) + (max(ts_us) - min(ts_us)) * {_CUT_NUM} // {_DEN} AS cut_us
  FROM r
),
base AS (
  SELECT user_id % {_N_BUCKETS} AS bucket, count(*) AS base_rows FROM (
    SELECT r.*, row_number() OVER (PARTITION BY user_id, event_type
                                   ORDER BY ts_us DESC, event_id DESC) AS rn
    FROM r, span WHERE ts_us <= cut_us
  ) WHERE rn = 1 AND op = 'U' GROUP BY 1
),
log AS (
  SELECT user_id % {_N_BUCKETS} AS bucket,
         count(*) AS log_rows,
         CAST(sum(CASE WHEN op = 'D' THEN 1 ELSE 0 END) AS BIGINT)
           AS delete_rows
  FROM r, span WHERE ts_us > cut_us GROUP BY 1
)
SELECT bucket,
       CAST(coalesce(base_rows, 0) AS BIGINT) AS base_rows,
       CAST(coalesce(log_rows, 0) AS BIGINT) AS log_rows,
       CAST(coalesce(delete_rows, 0) AS BIGINT) AS delete_rows,
       round(CAST(coalesce(log_rows, 0) AS DOUBLE)
             / CAST(greatest(coalesce(base_rows, 0), 1) AS DOUBLE), 6)
         AS amplification,
       coalesce(log_rows, 0) >= coalesce(base_rows, 0) AS needs_compaction
FROM base FULL OUTER JOIN log USING (bucket)
ORDER BY bucket"""


# --------------------------------------------------------------------------
# forget_user_sweep — right-to-be-forgotten delete propagation
# --------------------------------------------------------------------------

_FORGET_MOD = 97  # deterministic erasure cohort: custkey % 97 == 0


def q_forget_user_sweep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Right-to-be-forgotten sweep — the governance companion of the
    CDC surface: given an erasure cohort (customers with
    c_custkey % 97 == 0, standing in for a deletion-request list),
    measure the blast radius across the table graph BEFORE rewriting
    anything: customer rows directly, orders via o_custkey, lineitem
    via the cascaded order keys, events via user_id (an independent
    id space sharing the cohort rule — the cross-system case where
    the same subject key appears in another service's log). Emits
    per-table rows_to_delete / rows_total / pct — what a compliance
    job reports and what a compactor (see q_compaction_plan) turns
    into delete files.

    Scale: the cohort is a FILTER on each fact's own key column
    (custkey/user_id % 97) — no join at all for customer/orders/
    events; only lineitem needs the cascade, a semi join against the
    already-filtered orders keys (broadcast at these sizes, shuffle
    hash at 100 TB — either way one join on the fact). Counts are
    map-side-combinable aggs; output is 4 rows."""
    cust = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    ev = load_table(spark, sf_dir, "events")

    doomed_orders = orders.filter(F.col("o_custkey") % _FORGET_MOD == 0)

    def _counts(df: DataFrame, hit, table: str) -> DataFrame:
        return df.agg(
            F.lit(table).alias("table_name"),
            F.sum(hit.cast("long")).alias("rows_to_delete"),
            F.count(F.lit(1)).alias("rows_total"),
            F.round(
                F.sum(hit.cast("long")) * 100.0 / F.count(F.lit(1)), 6
            ).alias("pct"),
        )

    li_hit = li.join(
        F.broadcast(doomed_orders.select("o_orderkey")),
        li.l_orderkey == F.col("o_orderkey"),
        "left",
    ).select((F.col("o_orderkey").isNotNull()).alias("hit"))
    out = (
        _counts(cust, F.col("c_custkey") % _FORGET_MOD == 0, "customer")
        .unionByName(_counts(orders, F.col("o_custkey") % _FORGET_MOD == 0, "orders"))
        .unionByName(_counts(li_hit, F.col("hit"), "lineitem"))
        .unionByName(_counts(ev, F.col("user_id") % _FORGET_MOD == 0, "events"))
    )
    return out.orderBy("table_name")


SQL_FORGET_USER_SWEEP = f"""
WITH li_hit AS (
  SELECT (o.o_orderkey IS NOT NULL) AS hit
  FROM lineitem LEFT JOIN (
    SELECT o_orderkey FROM orders WHERE o_custkey % {_FORGET_MOD} = 0
  ) o ON lineitem.l_orderkey = o.o_orderkey
), u AS (
  SELECT 'customer' AS table_name,
         CAST(sum(CASE WHEN c_custkey % {_FORGET_MOD} = 0 THEN 1 ELSE 0 END) AS BIGINT)
           AS rows_to_delete,
         count(*) AS rows_total
  FROM customer
  UNION ALL
  SELECT 'orders',
         CAST(sum(CASE WHEN o_custkey % {_FORGET_MOD} = 0 THEN 1 ELSE 0 END) AS BIGINT),
         count(*)
  FROM orders
  UNION ALL
  SELECT 'lineitem',
         CAST(sum(CASE WHEN hit THEN 1 ELSE 0 END) AS BIGINT), count(*)
  FROM li_hit
  UNION ALL
  SELECT 'events',
         CAST(sum(CASE WHEN user_id % {_FORGET_MOD} = 0 THEN 1 ELSE 0 END) AS BIGINT),
         count(*)
  FROM events
)
SELECT table_name, rows_to_delete, rows_total,
       round(rows_to_delete * 100.0 / rows_total, 6) AS pct
FROM u ORDER BY table_name"""


def q_kanon_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k-anonymity audit (Sweeney 2002) — the third leg of the
    governance surface next to the PII scan and the forget sweep:
    treat (event_type, day, coarse value bucket) as the
    quasi-identifier an adversary could link on, group rows by it,
    and roll the group-size distribution up into the standard risk
    classes (k=1 unique rows are directly re-identifiable; k in
    [2,5) is the usual policy red line). Each class also carries the
    subject-diversity facts an l-diversity check needs: total and
    minimum distinct user_ids per QI group in the class.

    Exactness: buckets are integer floors of centi-quantized values;
    all outputs are counts/mins of exact integers.

    Scale: two hash aggregations (QI group sizes + distinct users,
    then the class rollup) — both map-side combinable; the QI
    cardinality, not the row count, bounds the second stage. The
    distinct-user count shuffles (QI, user) pairs once."""
    ev = load_table(spark, sf_dir, "events")
    # integer DIV on both sides (DuckDB // and Spark DIV both
    # truncate toward zero — verified; the float-div-then-cast form
    # would also work here but DIV is the pinned convention)
    qi = ev.select(
        "event_type",
        F.expr(f"unix_micros(ts) DIV {_DAY_US}").alias("day"),
        F.expr("CAST(round(value * 100) AS LONG) DIV 1000").alias("vbucket"),
        "user_id",
    )
    groups = qi.groupBy("event_type", "day", "vbucket").agg(
        F.count(F.lit(1)).alias("k"),
        F.countDistinct("user_id").alias("n_users"),
    )
    size_class = (
        F.when(F.col("k") == 1, F.lit("k=1"))
        .when(F.col("k") < 5, F.lit("2<=k<5"))
        .when(F.col("k") < 10, F.lit("5<=k<10"))
        .otherwise(F.lit("k>=10"))
    )
    return (
        groups.groupBy(size_class.alias("size_class"))
        .agg(
            F.count(F.lit(1)).alias("n_groups"),
            F.sum("k").alias("n_rows"),
            F.min("k").alias("min_k"),
            F.max("k").alias("max_k"),
            F.sum("n_users").alias("sum_users"),
            F.min("n_users").alias("min_users"),
        )
        .orderBy("size_class")
    )


SQL_KANON_AUDIT = f"""
WITH qi AS (
  SELECT event_type,
         epoch_us(ts) // {_DAY_US} AS day,
         CAST(round(value * 100) AS BIGINT) // 1000 AS vbucket,
         user_id
  FROM events
),
g AS (
  SELECT event_type, day, vbucket,
         count(*) AS k,
         CAST(count(DISTINCT user_id) AS BIGINT) AS n_users
  FROM qi GROUP BY 1, 2, 3
)
SELECT CASE WHEN k = 1 THEN 'k=1'
            WHEN k < 5 THEN '2<=k<5'
            WHEN k < 10 THEN '5<=k<10'
            ELSE 'k>=10' END AS size_class,
       count(*) AS n_groups,
       CAST(sum(k) AS BIGINT) AS n_rows,
       min(k) AS min_k,
       max(k) AS max_k,
       CAST(sum(n_users) AS BIGINT) AS sum_users,
       min(n_users) AS min_users
FROM g GROUP BY 1 ORDER BY 1"""


# --- cdc_time_travel --------------------------------------------------------

def q_cdc_time_travel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time travel (``VERSION AS OF``) over the merge-on-read layout:
    reconstruct the table as of a PAST version cut (55/100 of the ts
    span) from the base snapshot compacted at an OLDER cut (4/10) plus
    the change log replayed only through the as-of point — upserts and
    delete markers resolved per key by (ts, event_id); a winning
    delete removes the key from that version. This is the read path
    Delta/Iceberg time travel executes when the requested version
    predates the latest compaction: base file + log prefix, never a
    full-history replay.

    Law (pinned by ``test_time_travel_equals_direct_resolution``): the base+log-prefix
    path must equal a direct latest-per-key resolution of ALL records
    ≤ as-of — reading an old version from a newer physical layout can
    never change the answer.

    Scale: base and log prefix are filters of ONE scan; resolution is
    the same single key-window shuffle ``cdc_merge_on_read`` pays —
    time travel costs no more than the current-version read."""
    r = _records(spark, sf_dir)
    base = (
        _latest(r.filter(F.col("ts_us") <= F.col("_lo_us")))
        .filter(F.col("op") == "U")
        .select(*_KEY, "ts_us", "event_id", "value", "op")
        .withColumn("from_log", F.lit(False))
    )
    log = (
        r.filter(
            (F.col("ts_us") > F.col("_lo_us"))
            & (F.col("ts_us") <= F.col("_asof_us"))
        )
        .select(*_KEY, "ts_us", "event_id", "value", "op")
        .withColumn("from_log", F.lit(True))
    )
    merged = base.unionByName(log)
    return (
        _latest(merged)
        .filter(F.col("op") == "U")
        .select("user_id", "event_type", "ts_us", "value", "from_log")
    )


SQL_CDC_TIME_TRAVEL = f"""
WITH r AS (
  SELECT user_id, event_type, epoch_us(ts) AS ts_us, event_id, value,
         CASE WHEN event_id % 5 = 0 THEN 'D' ELSE 'U' END AS op
  FROM events
),
span AS (
  SELECT min(ts_us) + (max(ts_us) - min(ts_us)) * {_LO_NUM} // {_DEN} AS lo_us,
         min(ts_us) + (max(ts_us) - min(ts_us)) * {_TT_NUM} // {_TT_DEN}
           AS asof_us
  FROM r
),
base AS (
  SELECT user_id, event_type, ts_us, event_id, value, op, FALSE AS from_log
  FROM (
    SELECT r.*, row_number() OVER (PARTITION BY user_id, event_type
                                   ORDER BY ts_us DESC, event_id DESC) AS rn
    FROM r, span WHERE ts_us <= lo_us
  ) WHERE rn = 1 AND op = 'U'
),
log AS (
  SELECT user_id, event_type, ts_us, event_id, value, op, TRUE AS from_log
  FROM r, span WHERE ts_us > lo_us AND ts_us <= asof_us
),
merged AS (SELECT * FROM base UNION ALL SELECT * FROM log)
SELECT user_id, event_type, ts_us, value, from_log FROM (
  SELECT *, row_number() OVER (PARTITION BY user_id, event_type
                               ORDER BY ts_us DESC, event_id DESC) AS rn
  FROM merged
) WHERE rn = 1 AND op = 'U'"""


# --- incremental_agg_maintenance --------------------------------------------


def q_incremental_agg_maintenance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental view maintenance over the CDC stream — the
    materialized-aggregate law, executed: a per-event_type aggregate
    (live keys, sum of values in integer cents) materialized at
    version lo (4/10 cut) is MAINTAINED to version hi (7/10) by
    applying only the net change set (``cdc_changes_between``):
    insert → (+1, +post), delete → (−1, −pre), update → (0,
    post−pre). The DuckDB oracle computes the hi aggregate DIRECTLY
    from the resolved view, so the driver's hash equality IS the IVM
    law cross-engine: maintain(agg(lo), changes(lo,hi)) == agg(hi).

    This is how a 100-TB pipeline keeps dashboards current: the
    maintenance side touches |changed keys| rows (here the lo
    aggregate is derived in-plan because nothing is persisted between
    driver queries; in production it is the stored matview), never
    re-aggregating the table. Delete/re-insert, no-op keys (absent
    before AND deleted within the window), and pre-image-less inserts
    all flow through the change-type table — the cases that break
    naive delta scripts.

    Exactness: counts are BIGINT; value sums use the repo's integer-
    cents convention (CAST(round(value*100) AS BIGINT)), so the
    maintained and direct sums are bit-identical."""

    r = _records(spark, sf_dir)
    cents = lambda c: F.round(F.col(c) * 100).cast("long")
    view_lo = _latest(r.filter(F.col("ts_us") <= F.col("_lo_us"))).filter(
        F.col("op") == "U"
    )
    agg_lo = view_lo.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_lo"),
        F.sum(cents("value")).alias("sum_lo"),
    )
    ch = q_cdc_changes_between(spark, sf_dir)
    delta = ch.groupBy("event_type").agg(
        F.sum(
            F.when(F.col("change_type") == "insert", 1)
            .when(F.col("change_type") == "delete", -1)
            .otherwise(0)
        ).alias("dn"),
        F.sum(
            F.coalesce(cents("post_value"), F.lit(0))
            - F.coalesce(cents("pre_value"), F.lit(0))
        ).alias("dsum"),
    )
    return (
        agg_lo.join(delta, "event_type", "full_outer")
        .select(
            "event_type",
            (F.coalesce("n_lo", F.lit(0)) + F.coalesce("dn", F.lit(0)))
            .cast("long")
            .alias("n_keys"),
            (F.coalesce("sum_lo", F.lit(0)) + F.coalesce("dsum", F.lit(0)))
            .cast("long")
            .alias("sum_cents"),
        )
        .orderBy("event_type")
    )


# the oracle is the DIRECT aggregate at hi — equality proves the
# maintenance path
SQL_INCREMENTAL_AGG_MAINTENANCE = f"""
WITH r AS (
  SELECT user_id, event_type, epoch_us(ts) AS ts_us, event_id, value,
         CASE WHEN event_id % 5 = 0 THEN 'D' ELSE 'U' END AS op
  FROM events
),
span AS (
  SELECT min(ts_us) + (max(ts_us) - min(ts_us)) * 7 // {_DEN} AS cut_us
  FROM r
),
v AS (
  SELECT user_id, event_type, value FROM (
    SELECT r.*, row_number() OVER (PARTITION BY user_id, event_type
                                   ORDER BY ts_us DESC, event_id DESC) AS rn
    FROM r, span WHERE ts_us <= cut_us
  ) WHERE rn = 1 AND op = 'U'
)
SELECT event_type,
       count(*) AS n_keys,
       CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS sum_cents
FROM v GROUP BY event_type ORDER BY event_type"""


# --- vacuum_plan -------------------------------------------------------------


def q_vacuum_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Snapshot-retention vacuum planner (Delta VACUUM / Iceberg
    expire_snapshots semantics): with every version at or after the
    oldest retained cut (7/10 of the span) retained for time travel,
    a change record is UNREACHABLE — safe to vacuum — iff it is at or
    before the retained horizon AND not its key's winner there
    (superseded before any retained version can see it). Winners stay
    even when they are delete markers: reading the horizon version
    from raw records needs the tombstone. Records after the horizon
    always stay (some retained version sees each). Emits the per-
    bucket rewrite economics: record counts, vacuumable share, and
    how many vacuumable records are tombstones (a delete-heavy purge
    shrinks files the most).

    Scale: one key-window shuffle (the winner rank at the horizon) +
    one map-side-combinable rollup to 32 bucket rows — the same
    shape family as ``compaction_plan``."""
    r = _records(spark, sf_dir)
    horizon = F.col("ts_us") <= F.col("_cut_us")
    w = Window.partitionBy(*_KEY, "_pre").orderBy(
        F.desc("ts_us"), F.desc("event_id")
    )
    d = (
        r.withColumn("_pre", horizon)
        .withColumn("_rn", F.row_number().over(w))
        .withColumn("vacuumable", F.col("_pre") & (F.col("_rn") > 1))
    )
    return (
        d.groupBy((F.col("user_id") % 32).alias("bucket"))
        .agg(
            F.count(F.lit(1)).alias("n_records"),
            F.sum(F.col("vacuumable").cast("long")).alias("n_vacuumable"),
            F.sum(
                (F.col("vacuumable") & (F.col("op") == "D")).cast("long")
            ).alias("n_tombstones_vacuumable"),
        )
        .select(
            "bucket",
            "n_records",
            "n_vacuumable",
            "n_tombstones_vacuumable",
            F.round(
                F.col("n_vacuumable").cast("double")
                / F.col("n_records").cast("double"),
                6,
            ).alias("vacuum_pct"),
        )
        .orderBy("bucket")
    )


SQL_VACUUM_PLAN = f"""
WITH r AS (
  SELECT user_id, event_type, epoch_us(ts) AS ts_us, event_id,
         CASE WHEN event_id % 5 = 0 THEN 'D' ELSE 'U' END AS op
  FROM events
),
span AS (
  SELECT min(ts_us) + (max(ts_us) - min(ts_us)) * 7 // {_DEN} AS h_us
  FROM r
),
d AS (
  SELECT r.*, ts_us <= h_us AS pre,
         row_number() OVER (PARTITION BY user_id, event_type, ts_us <= h_us
                            ORDER BY ts_us DESC, event_id DESC) AS rn
  FROM r, span
)
SELECT user_id % 32 AS bucket,
       count(*) AS n_records,
       CAST(sum(CASE WHEN pre AND rn > 1 THEN 1 ELSE 0 END) AS BIGINT)
         AS n_vacuumable,
       CAST(sum(CASE WHEN pre AND rn > 1 AND op = 'D' THEN 1 ELSE 0 END)
            AS BIGINT) AS n_tombstones_vacuumable,
       round(CAST(sum(CASE WHEN pre AND rn > 1 THEN 1 ELSE 0 END) AS DOUBLE)
             / CAST(count(*) AS DOUBLE), 6) AS vacuum_pct
FROM d GROUP BY 1 ORDER BY 1"""


# --- txn_conflict_check -----------------------------------------------------

# two "concurrent transactions" carved from the change-log tail
# (ts_us above the 4/10 base cut, the same framing as the batch-27
# CDC entries): txn A = event_id % 3 == 1, txn B = event_id % 3 == 2
_TXN_LO_NUM = 4
_TXN_DEN = 10


def q_txn_conflict_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Optimistic-concurrency commit check — the validation Delta /
    Iceberg run before committing one of two concurrent transactions:
    do the write sets intersect? Two txns are carved from the change
    log's tail (disjoint event_id residues, so they are genuinely
    concurrent writers over overlapping keys); per event_type the
    report counts each txn's written keys, the write-write conflict
    keys (both txns wrote the key — the serializable-isolation abort
    set), and the disjoint remainder that would commit cleanly.

    Scale shape: the naive form filters the log twice and inner-joins
    the two key sets — THREE shuffles of the same records plus a join
    whose output is the conflict set itself. This entry pins the
    one-pass form: a single per-key conditional aggregation (wrote_a /
    wrote_b as max-of-case flags) followed by a rollup on the key's
    own grouping prefix — the conflict set never materializes as join
    output, and the log shuffles ONCE.

    Reference scope: the reference engine has no transactional
    surface; this completes the lakehouse family (merge_upsert →
    cdc_* → vacuum_plan → conflict check)."""
    ev = load_table(spark, sf_dir, "events").select(
        "user_id",
        "event_type",
        F.unix_micros("ts").alias("ts_us"),
        "event_id",
    )
    span = ev.agg(
        F.min("ts_us").alias("_t0"), F.max("ts_us").alias("_t1")
    ).select(
        F.expr(f"_t0 + (_t1 - _t0) * {_TXN_LO_NUM} DIV {_TXN_DEN}").alias(
            "_lo_us"
        )
    )
    tail = ev.join(F.broadcast(span)).filter(F.col("ts_us") > F.col("_lo_us"))
    res = F.col("event_id") % 3
    per_key = (
        tail.filter(res.isin(1, 2))
        .groupBy("event_type", "user_id")
        .agg(
            F.max((res == 1).cast("int")).alias("wrote_a"),
            F.max((res == 2).cast("int")).alias("wrote_b"),
        )
    )
    both = (F.col("wrote_a") == 1) & (F.col("wrote_b") == 1)
    return (
        per_key.groupBy("event_type")
        .agg(
            F.sum("wrote_a").cast("long").alias("n_keys_a"),
            F.sum("wrote_b").cast("long").alias("n_keys_b"),
            F.sum(both.cast("long")).alias("n_conflict_keys"),
            F.sum((~both).cast("long")).alias("n_clean_keys"),
        )
        .orderBy("event_type")
    )


SQL_TXN_CONFLICT_CHECK = f"""
WITH r AS (
  SELECT user_id, event_type, epoch_us(ts) AS ts_us, event_id FROM events
),
span AS (
  SELECT min(ts_us) + (max(ts_us) - min(ts_us)) * {_TXN_LO_NUM} // {_TXN_DEN}
           AS lo_us
  FROM r
),
pk AS (
  SELECT event_type, user_id,
         max(CASE WHEN event_id % 3 = 1 THEN 1 ELSE 0 END) AS wrote_a,
         max(CASE WHEN event_id % 3 = 2 THEN 1 ELSE 0 END) AS wrote_b
  FROM r, span
  WHERE ts_us > lo_us AND event_id % 3 IN (1, 2)
  GROUP BY event_type, user_id
)
SELECT event_type,
       CAST(sum(wrote_a) AS BIGINT) AS n_keys_a,
       CAST(sum(wrote_b) AS BIGINT) AS n_keys_b,
       CAST(sum(CASE WHEN wrote_a = 1 AND wrote_b = 1 THEN 1 ELSE 0 END)
            AS BIGINT) AS n_conflict_keys,
       CAST(sum(CASE WHEN wrote_a = 1 AND wrote_b = 1 THEN 0 ELSE 1 END)
            AS BIGINT) AS n_clean_keys
FROM pk GROUP BY event_type ORDER BY event_type"""


ENTRIES = {
    "cdc_changes_between": (q_cdc_changes_between, SQL_CDC_CHANGES_BETWEEN),
    "cdc_merge_on_read": (q_cdc_merge_on_read, SQL_CDC_MERGE_ON_READ),
    "cdc_time_travel": (q_cdc_time_travel, SQL_CDC_TIME_TRAVEL),
    "compaction_plan": (q_compaction_plan, SQL_COMPACTION_PLAN),
    "forget_user_sweep": (q_forget_user_sweep, SQL_FORGET_USER_SWEEP),
    "incremental_agg_maintenance": (q_incremental_agg_maintenance, SQL_INCREMENTAL_AGG_MAINTENANCE),
    "kanon_audit": (q_kanon_audit, SQL_KANON_AUDIT),
    "latest_snapshot": (q_latest_snapshot, SQL_LATEST_SNAPSHOT),
    "layout_compare": (q_layout_compare, SQL_LAYOUT_COMPARE),
    "merge_upsert": (q_merge_upsert, SQL_MERGE_UPSERT),
    "scd2_intervals": (q_scd2_intervals, SQL_SCD2_INTERVALS),
    "snapshot_diff": (q_snapshot_diff, SQL_SNAPSHOT_DIFF),
    "txn_conflict_check": (q_txn_conflict_check, SQL_TXN_CONFLICT_CHECK),
    "vacuum_plan": (q_vacuum_plan, SQL_VACUUM_PLAN),
    "zorder_layout": (q_zorder_layout, SQL_ZORDER_LAYOUT),
}
