"""Relational family: all 22 TPC-H shapes over the driver's star schema
(queries whose canonical columns do not exist are re-expressed with the
same plan shape on available columns), the relational-algebra surface
(semi/anti joins, correlated subqueries, grouping sets, set operations,
window functions, the SQL text path), event analytics (funnels,
cohorts, attribution, transitions, paths), graph queries (PageRank,
k-hop reach, triangles), skew treatments and the profiling sketches
(HLL, KMV, count-min, Bloom).

Determinism: money is quantized to integer cents PER ROW (one IEEE
product/difference, identical in both engines) and summed as BIGINT —
every DuckDB sum() that reaches the output is CAST to BIGINT (the
HUGEINT trap). Quantities are integer-valued doubles, so derived
averages and thresholds are bit-deterministic; years cast to long;
every computed column is aliased identically in both dialects."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window, functions as F
from pyspark.sql.types import LongType, StringType, StructField, StructType

from wq_data_pipeline_spark.operators import dq
from wq_data_pipeline_spark.operators.pinning import collect_if_small, driver_frame, pin
from wq_data_pipeline_spark.operators.text import gram_hash
from wq_data_pipeline_spark.plans.qc import _DAY_US, _HOUR_US, _events, _events_raw
from wq_data_pipeline_spark.sources.testdata import load_table


# --------------------------------------------------------------------------
# Relational / TPC-H-style queries (S1-scale joins & aggregations)
# --------------------------------------------------------------------------

def q_tpch_q1(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q1 pricing summary: scan -> filter -> hash agg."""
    li = load_table(spark, sf_dir, "lineitem")
    return (
        li.filter(F.col("l_shipdate") <= F.lit("1998-09-02"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
            F.round(F.sum("l_extendedprice"), 2).alias("sum_base_price"),
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2
            ).alias("sum_disc_price"),
            F.round(F.avg("l_quantity"), 4).alias("avg_qty"),
            F.round(F.avg("l_discount"), 4).alias("avg_disc"),
            F.count(F.lit(1)).alias("count_order"),
        )
    )


SQL_TPCH_Q1 = """
SELECT l_returnflag, l_linestatus,
       round(sum(l_quantity), 2) AS sum_qty,
       round(sum(l_extendedprice), 2) AS sum_base_price,
       round(sum(l_extendedprice * (1 - l_discount)), 2) AS sum_disc_price,
       round(avg(l_quantity), 4) AS avg_qty,
       round(avg(l_discount), 4) AS avg_disc,
       count(*) AS count_order
FROM lineitem WHERE l_shipdate <= TIMESTAMP '1998-09-02'
GROUP BY l_returnflag, l_linestatus"""


def q_tpch_q3(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q3 shipping priority: 3-way join + agg + top-10.

    customer is broadcast (small side); deterministic top-10 via
    (revenue DESC, o_orderkey ASC).
    """
    cust = load_table(spark, sf_dir, "customer").filter(
        F.col("c_mktsegment") == "BUILDING"
    )
    orders = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(F.broadcast(cust), orders.o_custkey == cust.c_custkey)
        .groupBy("l_orderkey", "o_orderdate", "o_orderpriority")
        .agg(
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2
            ).alias("revenue")
        )
        .orderBy(F.desc("revenue"), F.asc("l_orderkey"))
        .limit(10)
        .select(
            "l_orderkey",
            F.unix_micros("o_orderdate").alias("o_orderdate_us"),
            "o_orderpriority",
            "revenue",
        )
    )


SQL_TPCH_Q3 = """
SELECT l_orderkey, epoch_us(o_orderdate) AS o_orderdate_us, o_orderpriority,
       round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue
FROM lineitem
JOIN orders ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
WHERE c_mktsegment = 'BUILDING'
GROUP BY l_orderkey, o_orderdate, o_orderpriority
ORDER BY revenue DESC, l_orderkey ASC LIMIT 10"""


def q_tpch_q5(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q5-style: 5-way join through the star schema, dims broadcast."""
    li = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders")
    cust = load_table(spark, sf_dir, "customer")
    supp = load_table(spark, sf_dir, "supplier")
    nation = load_table(spark, sf_dir, "nation")
    region = load_table(spark, sf_dir, "region")
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(F.broadcast(supp), li.l_suppkey == supp.s_suppkey)
        .join(cust, orders.o_custkey == cust.c_custkey)
        .filter(cust.c_nationkey == supp.s_nationkey)
        .join(F.broadcast(nation), supp.s_nationkey == nation.n_nationkey)
        .join(F.broadcast(region), nation.n_regionkey == region.r_regionkey)
        .groupBy("n_name", "r_name")
        .agg(
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2
            ).alias("revenue"),
            F.count(F.lit(1)).alias("n_items"),
        )
    )


SQL_TPCH_Q5 = """
SELECT n_name, r_name,
       round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue,
       count(*) AS n_items
FROM lineitem
JOIN orders ON l_orderkey = o_orderkey
JOIN supplier ON l_suppkey = s_suppkey
JOIN customer ON o_custkey = c_custkey AND c_nationkey = s_nationkey
JOIN nation ON s_nationkey = n_nationkey
JOIN region ON n_regionkey = r_regionkey
GROUP BY n_name, r_name"""


def q_props_json(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JSON props extraction (from_json/get_json_object analog) +
    grouped aggregate; avg emitted as exact sum/count division."""
    ev = load_table(spark, sf_dir, "events")
    k = F.get_json_object("props", "$.k").cast("long")
    d = ev.select("event_type", k.alias("k"))
    return d.groupBy("event_type").agg(
        F.sum("k").alias("sum_k"),
        F.count("k").alias("n_k"),
        (F.sum("k").cast("double") / F.count("k").cast("double")).alias("avg_k"),
    )


SQL_PROPS_JSON = """
SELECT event_type,
       CAST(sum(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS BIGINT) AS sum_k,
       count(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS n_k,
       CAST(sum(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS DOUBLE)
       / CAST(count(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS DOUBLE) AS avg_k
FROM events GROUP BY event_type"""


# --- TPC-H Q6: filter + global agg -----------------------------------------

def q_tpch_q6(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q6 forecasting-revenue: pushed-down filters + one agg row."""
    li = load_table(spark, sf_dir, "lineitem")
    return (
        li.filter(
            (F.col("l_discount") >= 0.05)
            & (F.col("l_discount") <= 0.07)
            & (F.col("l_quantity") < 24)
        )
        .agg(
            F.round(F.sum(F.col("l_extendedprice") * F.col("l_discount")), 2).alias(
                "revenue"
            ),
            F.count(F.lit(1)).alias("n_rows"),
        )
    )


SQL_TPCH_Q6 = """
SELECT round(sum(l_extendedprice * l_discount), 2) AS revenue, count(*) AS n_rows
FROM lineitem
WHERE l_discount BETWEEN 0.05 AND 0.07 AND l_quantity < 24"""


def q_distinct_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """count_distinct + grouped distinct aggregates."""
    li = load_table(spark, sf_dir, "lineitem")
    return li.groupBy("l_returnflag").agg(
        F.count_distinct("l_partkey").alias("n_parts"),
        F.count_distinct("l_suppkey").alias("n_supps"),
        F.count(F.lit(1)).alias("n_rows"),
    )


SQL_DISTINCT = """
SELECT l_returnflag, count(DISTINCT l_partkey) AS n_parts,
       count(DISTINCT l_suppkey) AS n_supps, count(*) AS n_rows
FROM lineitem GROUP BY l_returnflag"""


def q_anti_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Left-anti join: customers with no high-value (>250k) order."""
    cust = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders").filter(
        F.col("o_totalprice") > 250_000
    )
    return (
        cust.join(orders, cust.c_custkey == orders.o_custkey, "left_anti")
        .select("c_custkey", "c_name", "c_mktsegment")
    )


SQL_ANTI = """
SELECT c_custkey, c_name, c_mktsegment FROM customer
WHERE NOT EXISTS (SELECT 1 FROM orders
                  WHERE o_custkey = c_custkey AND o_totalprice > 250000)"""


def q_semi_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Left-semi join: suppliers that shipped any high-quantity item."""
    supp = load_table(spark, sf_dir, "supplier")
    li = load_table(spark, sf_dir, "lineitem").filter(F.col("l_quantity") >= 45)
    return supp.join(li, supp.s_suppkey == li.l_suppkey, "left_semi").select(
        "s_suppkey", "s_name"
    )


SQL_SEMI = """
SELECT s_suppkey, s_name FROM supplier
WHERE EXISTS (SELECT 1 FROM lineitem WHERE l_suppkey = s_suppkey AND l_quantity >= 45)"""


def q_rollup_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ROLLUP grouping sets over the region/nation hierarchy."""
    li = load_table(spark, sf_dir, "lineitem")
    supp = load_table(spark, sf_dir, "supplier")
    nation = load_table(spark, sf_dir, "nation")
    region = load_table(spark, sf_dir, "region")
    j = (
        li.join(F.broadcast(supp), li.l_suppkey == supp.s_suppkey)
        .join(F.broadcast(nation), supp.s_nationkey == nation.n_nationkey)
        .join(F.broadcast(region), nation.n_regionkey == region.r_regionkey)
    )
    return j.rollup("r_name", "n_name").agg(
        F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2).alias(
            "revenue"
        ),
        F.count(F.lit(1)).alias("n_items"),
    )


SQL_ROLLUP = """
SELECT r_name, n_name,
       round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue,
       count(*) AS n_items
FROM lineitem
JOIN supplier ON l_suppkey = s_suppkey
JOIN nation ON s_nationkey = n_nationkey
JOIN region ON n_regionkey = r_regionkey
GROUP BY ROLLUP (r_name, n_name)"""


def q_union_having(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Union of two filtered projections + HAVING-style post-agg filter."""
    orders = load_table(spark, sf_dir, "orders")
    hi = orders.filter(F.col("o_totalprice") > 200_000).select(
        "o_custkey", F.lit("high").alias("bucket")
    )
    lo = orders.filter(F.col("o_totalprice") < 50_000).select(
        "o_custkey", F.lit("low").alias("bucket")
    )
    u = hi.unionByName(lo)
    return (
        u.groupBy("o_custkey", "bucket")
        .agg(F.count(F.lit(1)).alias("n_orders"))
        .filter(F.col("n_orders") >= 2)
    )


SQL_UNION_HAVING = """
WITH u AS (
  SELECT o_custkey, 'high' AS bucket FROM orders WHERE o_totalprice > 200000
  UNION ALL
  SELECT o_custkey, 'low' AS bucket FROM orders WHERE o_totalprice < 50000
)
SELECT o_custkey, bucket, count(*) AS n_orders
FROM u GROUP BY o_custkey, bucket HAVING count(*) >= 2"""


def q_corr_scalar_subquery(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Orders above their customer's average order value (correlated
    scalar subquery; expressed as a window in Spark)."""
    orders = load_table(spark, sf_dir, "orders")
    from pyspark.sql import Window

    w = Window.partitionBy("o_custkey")
    d = orders.withColumn("_avg", F.avg("o_totalprice").over(w)).withColumn(
        "_n", F.count(F.lit(1)).over(w)
    )
    return (
        d.filter((F.col("_n") >= 3) & (F.col("o_totalprice") > F.col("_avg") * 1.5))
        .select("o_orderkey", "o_custkey", "o_totalprice")
    )


SQL_CORR = """
WITH s AS (
  SELECT o_orderkey, o_custkey, o_totalprice,
         avg(o_totalprice) OVER (PARTITION BY o_custkey) AS a,
         count(*) OVER (PARTITION BY o_custkey) AS n
  FROM orders
)
SELECT o_orderkey, o_custkey, o_totalprice
FROM s WHERE n >= 3 AND o_totalprice > a * 1.5"""


def q_table_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Data-profiling pass over events — the pre-flight a pipeline
    runs before touching a new 100-TB table: row/null counts, ranges,
    exact distinct cardinalities. One scan, one agg row (at scale the
    distinct counts would switch to approx_count_distinct; the exact
    forms stay oracle-comparable)."""
    ev = load_table(spark, sf_dir, "events")
    return ev.agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.count("value").alias("n_value_nonnull"),
        (F.count(F.lit(1)) - F.count("value")).alias("n_value_null"),
        F.unix_micros(F.min("ts")).alias("ts_min_us"),
        F.unix_micros(F.max("ts")).alias("ts_max_us"),
        F.min("value").alias("value_min"),
        F.max("value").alias("value_max"),
        F.count_distinct("user_id").alias("n_users"),
        F.count_distinct("event_type").alias("n_event_types"),
    )


SQL_PROFILE = """
SELECT count(*) AS n_rows,
       count(value) AS n_value_nonnull,
       count(*) - count(value) AS n_value_null,
       epoch_us(min(ts)) AS ts_min_us, epoch_us(max(ts)) AS ts_max_us,
       min(value) AS value_min, max(value) AS value_max,
       count(DISTINCT user_id) AS n_users,
       count(DISTINCT event_type) AS n_event_types
FROM events"""


def q_sketch_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sketch-based profiling — the 100-TB path where exact distincts
    and exact percentiles are unaffordable: HLL++ distinct-user
    estimates (rsd 2%) and approximate value quantiles per
    event_type, one scan, constant memory per group. Rows-only by
    design: sketch estimates are engine-specific (DuckDB's HLL is a
    different implementation), so there is no cross-engine oracle —
    the error bounds vs the exact profile are pinned in
    tests/test_scale.py::test_sketch_profile_error_bounds instead."""
    ev = load_table(spark, sf_dir, "events")
    return ev.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.approx_count_distinct("user_id", rsd=0.02).alias("approx_users"),
        F.percentile_approx("value", 0.5, 10_000).alias("approx_p50"),
        F.percentile_approx("value", 0.95, 10_000).alias("approx_p95"),
    )


def q_sketch_profile_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Companion to ``sketch_profile``: the EXACT columns of the same
    one-scan per-event_type profile (row/null counts, value and ts
    ranges) — everything the sketches sit next to, DuckDB-oracled.
    Splitting these out leaves only the genuinely engine-specific
    sketch estimates (HLL++ distincts, approx percentiles) rows-only
    (VERDICT r5 #8). Same scale shape: one hash agg, map-side
    combinable, constant memory per group."""
    ev = load_table(spark, sf_dir, "events")
    return ev.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.count("value").alias("n_value_nonnull"),
        (F.count(F.lit(1)) - F.count("value")).alias("n_value_null"),
        F.min("value").alias("value_min"),
        F.max("value").alias("value_max"),
        F.unix_micros(F.min("ts")).alias("ts_min_us"),
        F.unix_micros(F.max("ts")).alias("ts_max_us"),
    )


SQL_SKETCH_EXACT = """
SELECT event_type,
       count(*) AS n_rows,
       count(value) AS n_value_nonnull,
       count(*) - count(value) AS n_value_null,
       min(value) AS value_min, max(value) AS value_max,
       epoch_us(min(ts)) AS ts_min_us, epoch_us(max(ts)) AS ts_max_us
FROM events GROUP BY event_type"""


def q_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Skew diagnosis: top-10 user_ids by event count with their
    corpus share — the check that decides whether a join key needs
    salting BEFORE the shuffle melts an executor. TakeOrdered top-k,
    no single-partition rank window; the corpus total rides in as a
    broadcast 1-row agg (zero plan-time driver jobs — the lazy-scalar
    pattern, SURVEY §7.0)."""
    ev = load_table(spark, sf_dir, "events")
    counts = ev.groupBy("user_id").agg(F.count(F.lit(1)).alias("n_events"))
    total = counts.agg(F.sum("n_events").cast("double").alias("_tot"))
    top = counts.orderBy(F.desc("n_events"), F.asc("user_id")).limit(10)
    w = Window.orderBy(F.desc("n_events"), F.asc("user_id"))
    return (
        top.withColumn("rank", F.row_number().over(w))
        .crossJoin(F.broadcast(total))
        .select(
            "user_id",
            "n_events",
            F.round(F.col("n_events") / F.col("_tot"), 6).alias("share"),
            "rank",
        )
    )


SQL_HEAVY = """
WITH c AS (SELECT user_id, count(*) AS n_events FROM events GROUP BY user_id)
SELECT user_id, n_events,
       round(n_events / (SELECT CAST(count(*) AS DOUBLE) FROM events), 6) AS share,
       rank
FROM (
  SELECT *, row_number() OVER (ORDER BY n_events DESC, user_id ASC) AS rank FROM c
) WHERE rank <= 10"""


# ---------------------------------------------------------------- salted agg

_N_SALTS = 16


def q_salted_user_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user event stats via the two-phase salted aggregation.
    Values aggregated in integer cents (exact BIGINT sums); the
    derived mean is rounded to 6 decimals outside the salted core."""
    from wq_data_pipeline_spark.operators.scale import salted_agg

    ev = load_table(spark, sf_dir, "events").select(
        "user_id",
        "event_id",
        F.round(F.col("value") * 100).cast("long").alias("cents"),
    )
    out = salted_agg(
        ev,
        ["user_id"],
        [
            ("event_id", "count", "n_events"),
            ("cents", "sum", "sum_cents"),
            ("cents", "min", "min_cents"),
            ("cents", "max", "max_cents"),
        ],
        n_salts=_N_SALTS,
        salt_source="event_id",
    )
    return out.withColumn(
        "avg_cents",
        F.round(F.col("sum_cents").cast("double") / F.col("n_events"), 6),
    )


SQL_SALTED_USER_STATS = """
WITH e AS (
  SELECT user_id, event_id, CAST(round(value * 100) AS BIGINT) AS cents
  FROM events
)
SELECT user_id, count(event_id) AS n_events,
       CAST(sum(cents) AS BIGINT) AS sum_cents,
       min(cents) AS min_cents, max(cents) AS max_cents,
       round(CAST(sum(cents) AS DOUBLE) / count(event_id), 6) AS avg_cents
FROM e GROUP BY user_id"""


_SJ_SALTS = 8


def q_salted_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Skew-safe fact-to-dim join via ``scale.salted_join``: events
    (fact) joined to per-user order-of-magnitude stats (a dim too big
    to broadcast at real scale) on a salted key, spreading any hot
    user over ``_SJ_SALTS`` reducers. The oracle is the PLAIN join —
    salting must be row-for-row invisible in the result (also pinned
    by tests/test_scale.py::test_salted_join_matches_plain_join)."""
    from wq_data_pipeline_spark.operators.scale import salted_join

    ev = load_table(spark, sf_dir, "events")
    stats = ev.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("user_n"),
        F.round(F.avg("value"), 6).alias("user_avg"),
    )
    j = salted_join(
        ev.select("event_id", "user_id", "value"),
        stats,
        key="user_id",
        n_salts=_SJ_SALTS,
        salt_source="event_id",
    )
    return j.select(
        "event_id",
        "user_id",
        "value",
        "user_n",
        "user_avg",
        (F.col("value") > F.col("user_avg")).alias("above_avg"),
    )


SQL_SALTED_JOIN = """
WITH s AS (
  SELECT user_id, count(*) AS user_n, round(avg(value), 6) AS user_avg
  FROM events GROUP BY user_id
)
SELECT e.event_id, e.user_id, e.value, s.user_n, s.user_avg,
       e.value > s.user_avg AS above_avg
FROM events e JOIN s USING (user_id)"""


def q_tpch_q14_promo(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q14-style promo revenue share per ship month: lineitem ⋈
    broadcast(part), CASE-split revenue sums. Part is the classic
    broadcast dim; one hash agg on the month."""
    li = load_table(spark, sf_dir, "lineitem")
    pt = load_table(spark, sf_dir, "part")
    rev = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    j = li.join(F.broadcast(pt), li.l_partkey == pt.p_partkey)
    return (
        j.groupBy(F.date_trunc("month", "l_shipdate").alias("_m"))
        .agg(
            F.round(
                F.sum(F.when(F.col("p_type") == "ECONOMY", rev).otherwise(0.0)), 2
            ).alias("economy_rev"),
            F.round(F.sum(rev), 2).alias("total_rev"),
            F.count(F.lit(1)).alias("n_items"),
        )
        .select(
            F.unix_micros("_m").alias("month_us"),
            "economy_rev",
            "total_rev",
            F.round(
                F.col("economy_rev") * 100.0 / F.col("total_rev"), 6
            ).alias("economy_pct"),
            "n_items",
        )
    )


SQL_TPCH_Q14 = """
SELECT epoch_us(date_trunc('month', l_shipdate)) AS month_us,
       round(sum(CASE WHEN p_type = 'ECONOMY'
                      THEN l_extendedprice * (1 - l_discount) ELSE 0.0 END), 2) AS economy_rev,
       round(sum(l_extendedprice * (1 - l_discount)), 2) AS total_rev,
       round(round(sum(CASE WHEN p_type = 'ECONOMY'
                            THEN l_extendedprice * (1 - l_discount) ELSE 0.0 END), 2) * 100.0
             / round(sum(l_extendedprice * (1 - l_discount)), 2), 6) AS economy_pct,
       count(*) AS n_items
FROM lineitem JOIN part ON l_partkey = p_partkey
GROUP BY date_trunc('month', l_shipdate)"""


def q_event_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered funnel analysis (view -> click -> purchase): per user,
    the first view, the first click AT OR AFTER that view, and the
    first purchase at or after that click — the classic product-
    analytics sequence query. Three per-user min-aggregations chained
    by time predicates; every agg is map-side combinable and shuffles
    only (user, ts) pairs. depth = how far the user got."""
    ev = load_table(spark, sf_dir, "events").select(
        "user_id", "event_type", F.unix_micros("ts").alias("us")
    )
    t1 = (
        ev.filter(F.col("event_type") == "view")
        .groupBy("user_id")
        .agg(F.min("us").alias("view_us"))
    )
    t2 = (
        ev.filter(F.col("event_type") == "click")
        .join(t1, "user_id")
        .filter(F.col("us") >= F.col("view_us"))
        .groupBy("user_id")
        .agg(F.min("us").alias("click_us"))
    )
    t3 = (
        ev.filter(F.col("event_type") == "purchase")
        .join(t2, "user_id")
        .filter(F.col("us") >= F.col("click_us"))
        .groupBy("user_id")
        .agg(F.min("us").alias("purchase_us"))
    )
    out = t1.join(t2, "user_id", "left").join(t3, "user_id", "left")
    depth = (
        F.lit(1)
        + F.col("click_us").isNotNull().cast("int")
        + F.col("purchase_us").isNotNull().cast("int")
    )
    return out.select(
        "user_id", "view_us", "click_us", "purchase_us", depth.alias("depth")
    )


SQL_EVENT_FUNNEL = """
WITH e AS (SELECT user_id, event_type, epoch_us(ts) AS us FROM events),
t1 AS (SELECT user_id, min(us) AS view_us FROM e WHERE event_type = 'view' GROUP BY user_id),
t2 AS (
  SELECT e.user_id, min(e.us) AS click_us
  FROM e JOIN t1 ON e.user_id = t1.user_id
  WHERE e.event_type = 'click' AND e.us >= t1.view_us
  GROUP BY e.user_id
),
t3 AS (
  SELECT e.user_id, min(e.us) AS purchase_us
  FROM e JOIN t2 ON e.user_id = t2.user_id
  WHERE e.event_type = 'purchase' AND e.us >= t2.click_us
  GROUP BY e.user_id
)
SELECT t1.user_id, t1.view_us, t2.click_us, t3.purchase_us,
       1 + CAST(t2.user_id IS NOT NULL AS INT) + CAST(t3.user_id IS NOT NULL AS INT) AS depth
FROM t1 LEFT JOIN t2 ON t1.user_id = t2.user_id
        LEFT JOIN t3 ON t1.user_id = t3.user_id"""


def q_retention_cohorts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Retention-cohort triangle: users are cohorted by their first
    active day;each (cohort_day, day-offset) cell counts the distinct
    users active that day. Two hash aggs (per-user first day; per-cell
    distinct count) — the standard growth-analytics rollup, all
    integer day arithmetic (µs // 86.4e9, timezone-free)."""
    ev = load_table(spark, sf_dir, "events").select(
        "user_id", F.floor(F.unix_micros("ts") / _DAY_US).cast("long").alias("day")
    )
    first = ev.groupBy("user_id").agg(F.min("day").alias("cohort_day"))
    act = ev.distinct()
    return (
        act.join(first, "user_id")
        .groupBy("cohort_day", (F.col("day") - F.col("cohort_day")).alias("offset_days"))
        .agg(F.count_distinct("user_id").alias("n_users"))
    )


SQL_RETENTION_COHORTS = f"""
WITH e AS (
  SELECT DISTINCT user_id, epoch_us(ts) // {_DAY_US} AS day FROM events
),
f AS (SELECT user_id, min(day) AS cohort_day FROM e GROUP BY user_id)
SELECT f.cohort_day, e.day - f.cohort_day AS offset_days,
       count(DISTINCT e.user_id) AS n_users
FROM e JOIN f ON e.user_id = f.user_id
GROUP BY f.cohort_day, e.day - f.cohort_day"""


def _rev() -> F.Column:
    return F.col("l_extendedprice") * (1 - F.col("l_discount"))


# --------------------------------------------------------------------------
# TPC-H Q7 — volume shipping between nation pairs
# --------------------------------------------------------------------------

def q_tpch_q7_volume(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q7 (adapted): revenue flow between distinct
    (supplier-nation, customer-nation) pairs per ship year.

    Plan shape: the two fact tables join on l_orderkey (one shuffle),
    customer joins on o_custkey (second shuffle); supplier and both
    nation sides are broadcast dims. The nation dim is aliased twice
    — once per side — instead of re-reading it.

    Determinism: with ~4200 output groups the round-after-sum double
    discipline hits half-cent boundaries (order-dependent last cent),
    so revenue is quantized to integer cents PER ROW (one IEEE
    product, identical in both engines) and summed exactly as
    BIGINT."""
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_suppkey", "l_extendedprice", "l_discount", "l_shipdate"
    )
    orders = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    cust = load_table(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    supp = load_table(spark, sf_dir, "supplier").select("s_suppkey", "s_nationkey")
    nation = load_table(spark, sf_dir, "nation")
    ns = nation.select(
        F.col("n_nationkey").alias("ns_key"), F.col("n_name").alias("supp_nation")
    )
    nc = nation.select(
        F.col("n_nationkey").alias("nc_key"), F.col("n_name").alias("cust_nation")
    )
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(F.broadcast(supp), li.l_suppkey == supp.s_suppkey)
        .join(F.broadcast(ns), F.col("s_nationkey") == F.col("ns_key"))
        .join(cust, orders.o_custkey == cust.c_custkey)
        .join(F.broadcast(nc), F.col("c_nationkey") == F.col("nc_key"))
        .filter(F.col("supp_nation") != F.col("cust_nation"))
        .groupBy(
            "supp_nation",
            "cust_nation",
            F.year("l_shipdate").cast("long").alias("ship_year"),
        )
        .agg(
            (
                F.sum(F.round(_rev() * 100).cast("long")).cast("double") / 100
            ).alias("revenue"),
            F.count(F.lit(1)).alias("n_items"),
        )
    )


SQL_TPCH_Q7_VOLUME = """
SELECT ns.n_name AS supp_nation, nc.n_name AS cust_nation,
       year(l_shipdate) AS ship_year,
       CAST(sum(CAST(round(l_extendedprice * (1 - l_discount) * 100) AS BIGINT))
            AS DOUBLE) / 100 AS revenue,
       count(*) AS n_items
FROM lineitem
JOIN orders ON l_orderkey = o_orderkey
JOIN supplier ON l_suppkey = s_suppkey
JOIN customer ON o_custkey = c_custkey
JOIN nation ns ON s_nationkey = ns.n_nationkey
JOIN nation nc ON c_nationkey = nc.n_nationkey
WHERE ns.n_name <> nc.n_name
GROUP BY 1, 2, 3"""


# --------------------------------------------------------------------------
# TPC-H Q8 — market share per supplier nation
# --------------------------------------------------------------------------

def q_tpch_q8_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q8 (adapted): each supplier nation's share of PROMO-part
    revenue sold to ASIA-region customers, per ship year.

    Revenue accumulates as EXACT integer cents (per-row product +
    one round is bit-identical across engines; the BIGINT sum is
    order-free) — the r8 sf0.1 insurance sweep caught the previous
    round-after-double-sum form landing a group on opposite sides of
    a cent boundary (5701761.14 vs .15). The share divides two exact
    integers, so the window division is bit-deterministic too. part
    is filtered then broadcast; the per-(year, nation) agg is tiny,
    so the share window costs nothing."""
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_partkey", "l_suppkey", "l_extendedprice", "l_discount",
        "l_shipdate",
    )
    part = (
        load_table(spark, sf_dir, "part")
        .filter(F.col("p_type") == "PROMO")
        .select("p_partkey")
    )
    orders = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    cust = load_table(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    supp = load_table(spark, sf_dir, "supplier").select("s_suppkey", "s_nationkey")
    nation = load_table(spark, sf_dir, "nation")
    region = load_table(spark, sf_dir, "region")
    nc = (
        nation.join(
            F.broadcast(region.filter(F.col("r_name") == "ASIA")),
            nation.n_regionkey == region.r_regionkey,
        )
        .select(F.col("n_nationkey").alias("nc_key"))
    )
    ns = nation.select(
        F.col("n_nationkey").alias("ns_key"), F.col("n_name").alias("supp_nation")
    )
    rev = (
        li.join(F.broadcast(part), li.l_partkey == part.p_partkey)
        .join(orders, li.l_orderkey == orders.o_orderkey)
        .join(cust, orders.o_custkey == cust.c_custkey)
        .join(F.broadcast(nc), F.col("c_nationkey") == F.col("nc_key"))
        .join(F.broadcast(supp), li.l_suppkey == supp.s_suppkey)
        .join(F.broadcast(ns), F.col("s_nationkey") == F.col("ns_key"))
        .groupBy("supp_nation", F.year("l_shipdate").cast("long").alias("ship_year"))
        .agg(
            F.sum(F.round(_rev() * 100).cast("long")).alias("_cents")
        )
    )
    w = Window.partitionBy("ship_year")
    return rev.select(
        "supp_nation",
        "ship_year",
        (F.col("_cents") / F.lit(100.0)).alias("revenue"),
        F.round(
            F.col("_cents").cast("double")
            / F.sum("_cents").over(w).cast("double"),
            6,
        ).alias("mkt_share"),
    )


SQL_TPCH_Q8_SHARE = """
WITH rev AS (
  SELECT ns.n_name AS supp_nation, CAST(year(l_shipdate) AS BIGINT) AS ship_year,
         CAST(sum(CAST(round(l_extendedprice * (1 - l_discount) * 100) AS BIGINT)) AS BIGINT) AS cents
  FROM lineitem
  JOIN part ON l_partkey = p_partkey
  JOIN orders ON l_orderkey = o_orderkey
  JOIN customer ON o_custkey = c_custkey
  JOIN nation nc ON c_nationkey = nc.n_nationkey
  JOIN region ON nc.n_regionkey = r_regionkey
  JOIN supplier ON l_suppkey = s_suppkey
  JOIN nation ns ON s_nationkey = ns.n_nationkey
  WHERE p_type = 'PROMO' AND r_name = 'ASIA'
  GROUP BY 1, 2)
SELECT supp_nation, ship_year, cents / 100.0 AS revenue,
       round(CAST(cents AS DOUBLE)
             / CAST(sum(cents) OVER (PARTITION BY ship_year) AS DOUBLE), 6) AS mkt_share
FROM rev"""


# --------------------------------------------------------------------------
# TPC-H Q10 — returned-item revenue, top customers
# --------------------------------------------------------------------------

def q_tpch_q10_returns(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q10: top-20 customers by lost revenue on returned items
    ('R') for orders placed in a 6-month window.

    The o_orderdate range filter lands on the orders scan (partition
    pruning at scale); after it, the orders side is small enough for
    AQE to pick a broadcast join against lineitem. nation is an
    explicit broadcast."""
    li = load_table(spark, sf_dir, "lineitem").filter(F.col("l_returnflag") == "R")
    orders = load_table(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1996-01-01"))
        & (F.col("o_orderdate") < F.lit("1996-07-01"))
    )
    cust = load_table(spark, sf_dir, "customer")
    nation = load_table(spark, sf_dir, "nation")
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(cust, orders.o_custkey == cust.c_custkey)
        .join(F.broadcast(nation), cust.c_nationkey == nation.n_nationkey)
        .groupBy("c_custkey", "c_name", "c_acctbal", "n_name")
        .agg(
            F.round(F.sum(_rev()), 2).alias("revenue"),
            F.count(F.lit(1)).alias("n_items"),
        )
        .orderBy(F.desc("revenue"), F.asc("c_custkey"))
        .limit(20)
    )


SQL_TPCH_Q10_RETURNS = """
SELECT c_custkey, c_name, c_acctbal, n_name,
       round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue,
       count(*) AS n_items
FROM lineitem
JOIN orders ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
JOIN nation ON c_nationkey = n_nationkey
WHERE l_returnflag = 'R'
  AND o_orderdate >= TIMESTAMP '1996-01-01'
  AND o_orderdate <  TIMESTAMP '1996-07-01'
GROUP BY c_custkey, c_name, c_acctbal, n_name
ORDER BY revenue DESC, c_custkey ASC LIMIT 20"""


# --------------------------------------------------------------------------
# TPC-H Q13 — customer order-count distribution
# --------------------------------------------------------------------------

def q_tpch_q13_custdist(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q13: distribution of customers by how many non-URGENT
    orders they placed — the canonical left-outer-join + double-agg
    shape (customers with zero qualifying orders land in the c_count
    = 0 bucket via the null-skipping count)."""
    cust = load_table(spark, sf_dir, "customer").select("c_custkey")
    orders = (
        load_table(spark, sf_dir, "orders")
        .filter(F.col("o_orderpriority") != "1-URGENT")
        .select("o_custkey", "o_orderkey")
    )
    per_cust = (
        cust.join(orders, cust.c_custkey == orders.o_custkey, "left")
        .groupBy("c_custkey")
        .agg(F.count("o_orderkey").alias("c_count"))
    )
    return per_cust.groupBy("c_count").agg(F.count(F.lit(1)).alias("custdist"))


SQL_TPCH_Q13_CUSTDIST = """
WITH c_orders AS (
  SELECT c_custkey, count(o_orderkey) AS c_count
  FROM customer
  LEFT JOIN orders ON c_custkey = o_custkey AND o_orderpriority <> '1-URGENT'
  GROUP BY c_custkey)
SELECT c_count, count(*) AS custdist FROM c_orders GROUP BY c_count"""


# --------------------------------------------------------------------------
# TPC-H Q18 — large-volume orders
# --------------------------------------------------------------------------

def q_tpch_q18_large(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q18: orders whose total line quantity exceeds 300, with
    the buying customer — group-filter-join-back. The HAVING-filtered
    aggregate is a tiny fraction of orders, so AQE broadcasts it into
    the joins back to orders/customer."""
    li = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_quantity")
    orders = load_table(spark, sf_dir, "orders")
    cust = load_table(spark, sf_dir, "customer").select("c_custkey", "c_name")
    big = (
        li.groupBy("l_orderkey")
        .agg(F.round(F.sum("l_quantity"), 2).alias("sum_qty"))
        .filter(F.col("sum_qty") > 300)
    )
    return (
        big.join(orders, big.l_orderkey == orders.o_orderkey)
        .join(cust, orders.o_custkey == cust.c_custkey)
        .select(
            "c_custkey",
            "c_name",
            "o_orderkey",
            F.unix_micros("o_orderdate").alias("o_orderdate_us"),
            "o_totalprice",
            "sum_qty",
        )
        .orderBy(F.desc("o_totalprice"), F.asc("o_orderkey"))
        .limit(100)
    )


SQL_TPCH_Q18_LARGE = """
WITH big AS (
  SELECT l_orderkey, round(sum(l_quantity), 2) AS sum_qty
  FROM lineitem GROUP BY l_orderkey HAVING round(sum(l_quantity), 2) > 300)
SELECT c_custkey, c_name, o_orderkey, epoch_us(o_orderdate) AS o_orderdate_us,
       o_totalprice, sum_qty
FROM big
JOIN orders ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
ORDER BY o_totalprice DESC, o_orderkey ASC LIMIT 100"""


# --------------------------------------------------------------------------
# TPC-H Q19 — discounted revenue under OR'd brand/size/quantity bands
# --------------------------------------------------------------------------

def q_tpch_q19_brand(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q19 (adapted to available columns): revenue from three
    OR'd (brand, size-range, quantity-band) predicates.

    The OR spans both tables, so Catalyst can't push it; the classic
    Q19 rewrite is applied by hand — each side gets the union of its
    own conjuncts (part: brand IN + size bound; lineitem: overall
    quantity envelope) BEFORE the broadcast join, and the exact OR
    runs on the joined rows."""
    part = (
        load_table(spark, sf_dir, "part")
        .filter(
            F.col("p_brand").isin("Brand#12", "Brand#23", "Brand#34")
            & (F.col("p_size") >= 1)
            & (F.col("p_size") <= 15)
        )
        .select("p_partkey", "p_brand", "p_size")
    )
    li = (
        load_table(spark, sf_dir, "lineitem")
        .filter((F.col("l_quantity") >= 1) & (F.col("l_quantity") <= 30))
        .select("l_partkey", "l_quantity", "l_extendedprice", "l_discount")
    )
    b = F.col("p_brand")
    s = F.col("p_size")
    q = F.col("l_quantity")
    cond = (
        ((b == "Brand#12") & (s <= 15) & (q >= 1) & (q <= 11))
        | ((b == "Brand#23") & (s <= 10) & (q >= 10) & (q <= 20))
        | ((b == "Brand#34") & (s <= 5) & (q >= 20) & (q <= 30))
    )
    return (
        li.join(F.broadcast(part), li.l_partkey == part.p_partkey)
        .filter(cond)
        .agg(
            F.round(F.sum(_rev()), 2).alias("revenue"),
            F.count(F.lit(1)).alias("n_items"),
        )
    )


SQL_TPCH_Q19_BRAND = """
SELECT round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue,
       count(*) AS n_items
FROM lineitem JOIN part ON l_partkey = p_partkey
WHERE (p_brand = 'Brand#12' AND p_size BETWEEN 1 AND 15
       AND l_quantity BETWEEN 1 AND 11)
   OR (p_brand = 'Brand#23' AND p_size BETWEEN 1 AND 10
       AND l_quantity BETWEEN 10 AND 20)
   OR (p_brand = 'Brand#34' AND p_size BETWEEN 1 AND 5
       AND l_quantity BETWEEN 20 AND 30)"""


# --------------------------------------------------------------------------
# TPC-H Q22 — wealthy customers gone quiet
# --------------------------------------------------------------------------

def q_tpch_q22_idle(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q22 (adapted: no phone column, so the grouping key is
    the customer's nation): customers with above-average positive
    account balance and NO orders since 2000-06-01 — scalar subquery
    + anti join, rolled up per nation.

    The average is computed plan-side and broadcast (no driver
    collect); the anti join runs against the date-filtered distinct
    custkey set, which is far smaller than orders."""
    cust = load_table(spark, sf_dir, "customer").select(
        "c_custkey", "c_nationkey", "c_acctbal"
    )
    nation = load_table(spark, sf_dir, "nation")
    recent = (
        load_table(spark, sf_dir, "orders")
        .filter(F.col("o_orderdate") >= F.lit("2000-06-01"))
        .select("o_custkey")
        .distinct()
    )
    avg_bal = cust.filter(F.col("c_acctbal") > 0).agg(
        F.avg("c_acctbal").alias("avg_bal")
    )
    return (
        cust.crossJoin(F.broadcast(avg_bal))
        .filter(F.col("c_acctbal") > F.col("avg_bal"))
        .join(recent, cust.c_custkey == recent.o_custkey, "left_anti")
        .join(F.broadcast(nation), cust.c_nationkey == nation.n_nationkey)
        .groupBy("n_name")
        .agg(
            F.count(F.lit(1)).alias("numcust"),
            F.round(F.sum("c_acctbal"), 2).alias("totacctbal"),
        )
    )


SQL_TPCH_Q22_IDLE = """
SELECT n_name, count(*) AS numcust, round(sum(c_acctbal), 2) AS totacctbal
FROM customer
JOIN nation ON c_nationkey = n_nationkey
WHERE c_acctbal > (SELECT avg(c_acctbal) FROM customer WHERE c_acctbal > 0)
  AND NOT EXISTS (SELECT 1 FROM orders
                  WHERE o_custkey = c_custkey
                    AND o_orderdate >= TIMESTAMP '2000-06-01')
GROUP BY n_name"""


_WS_K = 10  # sample size per source


def q_weighted_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weighted sampling WITHOUT replacement, deterministic: the
    Efraimidis-Spirakis A-ES scheme — each doc draws u ~ U(0,1) from
    its md5 (52-bit prefix), gets key ln(u)/w with weight w =
    n_chars, and the top-k keys per source win. One hash per row +
    one per-source top-k window: fully map-side until the tiny
    shuffle of per-source candidates.

    The float key orders candidates but is NOT emitted, so libm/JVM
    ln() ulp differences can't reach the value hash; a flip would
    need two keys within 1 ulp of each other."""
    d = (
        load_table(spark, sf_dir, "documents")
        .filter(F.col("n_chars") > 0)
        .select("doc_id", "source", "n_chars")
    )
    h = F.conv(
        F.substring(F.md5(F.col("doc_id").cast("string").cast("binary")), 1, 13),
        16,
        10,
    ).cast("long")
    u = (h.cast("double") + 0.5) / F.lit(float(1 << 52))
    key = F.log(u) / F.col("n_chars").cast("double")
    w = Window.partitionBy("source").orderBy(F.desc("key"), F.asc("doc_id"))
    return (
        d.withColumn("key", key)
        .withColumn("sample_rank", F.row_number().over(w))
        .filter(F.col("sample_rank") <= _WS_K)
        .select("source", "sample_rank", "doc_id", F.col("n_chars").alias("weight"))
    )


SQL_WEIGHTED_SAMPLE = f"""
WITH d AS (
  SELECT doc_id, source, n_chars,
         ln((('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 13))::BIGINT
             + 0.5) / {float(1 << 52)!r}) / n_chars AS key
  FROM documents WHERE n_chars > 0),
r AS (
  SELECT source, doc_id, n_chars,
         row_number() OVER (PARTITION BY source ORDER BY key DESC, doc_id ASC)
           AS sample_rank
  FROM d)
SELECT source, sample_rank, doc_id, n_chars AS weight
FROM r WHERE sample_rank <= {_WS_K}"""


_PR_ITERS = 3


def _pagerank_on_driver(spark: SparkSession, pairs) -> DataFrame:
    """The ``_PR_ITERS`` integer PageRank rounds in Python over the
    collected distinct (c, s) pairs (an Arrow table). Same arithmetic
    as the distributed rounds — ``(85*r) // (100*deg)`` on
    non-negative ints, summed per destination — so ranks are
    bit-identical."""
    nbrs: dict[str, list[str]] = {}
    for c, s in zip(pairs.column("c").to_pylist(), pairs.column("s").to_pylist()):
        nbrs.setdefault(c, []).append(s)
        nbrs.setdefault(s, []).append(c)
    ranks = dict.fromkeys(nbrs, 1_000_000)
    for _ in range(_PR_ITERS):
        nxt: dict[str, int] = {}
        for node, r in ranks.items():
            u = (85 * r) // (100 * len(nbrs[node]))
            for dst in nbrs[node]:
                nxt[dst] = nxt.get(dst, 150_000) + u
        ranks = nxt
    nodes = list(ranks)
    return driver_frame(
        spark,
        {
            "node": nodes,
            "node_type": [n[:1] for n in nodes],
            "deg": [len(nbrs[n]) for n in nodes],
            "rank_micro": [ranks[n] for n in nodes],
        },
        StructType(
            [
                StructField("node", StringType()),
                StructField("node_type", StringType()),
                StructField("deg", LongType(), nullable=False),
                StructField("rank_micro", LongType()),
            ]
        ),
    )


def q_pagerank_purchases(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PageRank over the customer-supplier purchase graph (edge when
    a customer ever bought from a supplier), {_PR_ITERS} fixed
    iterations, damping 0.85 — iterative graph analytics on the star
    schema (supplier influence / customer centrality in one rank).

    Exact integer arithmetic end-to-end: ranks live in micro-units,
    each neighbor contribution is the BIGINT integral division
    (85·r) div (100·deg), so the per-iteration sums are order-free
    and the oracle unrolls the same rounds as CTEs.

    The distinct (c, s) pairs are pinned and counted once. At or under
    ``_DRIVER_FINISH_ROWS`` pairs (operators/pinning.py) they are
    collected and the rounds run on the driver
    (:func:`_pagerank_on_driver`): one count and one collect. Above it the
    rounds run distributed: the symmetric edge skeleton and the degree
    table are pinned, and each round is one join + one hash agg — the
    standard distributed-PR shape."""
    li = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_suppkey")
    orders = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    pairs, small = collect_if_small(
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .select(
            F.concat(F.lit("c:"), F.col("o_custkey").cast("string")).alias("c"),
            F.concat(F.lit("s:"), F.col("l_suppkey").cast("string")).alias("s"),
        )
        .distinct()
    )
    if small is not None:
        return _pagerank_on_driver(spark, small)
    edges = pin(
        pairs.select(F.col("c").alias("src"), F.col("s").alias("dst"))
        .unionAll(pairs.select(F.col("s").alias("src"), F.col("c").alias("dst")))
        # degree + 3 iterations all read this skeleton — pin it once,
        # ALREADY hash-partitioned on src so every iteration's join
        # shuffles only the node-sized rank table, never the edges
        .repartition(spark.sparkContext.defaultParallelism, "src"),
        eager=True,
    )
    # the degree table joins into every round AND the final select —
    # pin it once (it is node-sized); count it while materializing so
    # the round joins can be broadcast-pinned (pinned frames carry no
    # stats, so AQE would otherwise run every round as a sort-merge
    # join that re-sorts the EDGE skeleton). Above the node gate below
    # the shuffling joins run unchanged.
    deg = pin(edges.groupBy("src").agg(F.count(F.lit(1)).alias("deg")), eager=True)
    n_nodes = deg.count()
    # byte-aware gate (r12-VERDICT #2): a broadcast (node, u) row is a
    # ~10-char node string + one long ≈ 40 B framed, so 1.5M nodes ≈
    # 60 MB raw — at the session's 64 MB autoBroadcast intent; the old
    # 4M-row gate allowed ~160 MB per executor at the boundary
    hint = F.broadcast if n_nodes <= 1_500_000 else (lambda d: d)
    ranks = deg.select(F.col("src").alias("node"), F.lit(1_000_000).alias("r"))
    for _ in range(_PR_ITERS):
        # pre-join ranks with degrees (both node-sized) so each round
        # pays ONE edge-side join on the broadcast (node, u) table
        # instead of two
        rd = ranks.join(hint(deg), ranks.node == deg.src).select(
            "node", F.expr("(85 * r) div (100 * deg)").alias("u")
        )
        contrib = edges.join(hint(rd), edges.src == rd.node).select("dst", "u")
        ranks = contrib.groupBy("dst").agg(
            (F.lit(150_000) + F.sum("u")).cast("long").alias("r")
        ).select(F.col("dst").alias("node"), "r")
    return (
        ranks.join(hint(deg), ranks.node == deg.src)
        .select(
            "node",
            F.substring("node", 1, 1).alias("node_type"),
            "deg",
            F.col("r").alias("rank_micro"),
        )
    )


def _pr_round(prev: str, out: str) -> str:
    return f"""{out} AS (
  SELECT e.dst AS node,
         CAST(150000 + sum((85 * r.r) // (100 * d.deg)) AS BIGINT) AS r
  FROM edges e JOIN {prev} r ON e.src = r.node JOIN deg d ON e.src = d.src
  GROUP BY e.dst)"""


SQL_PAGERANK_PURCHASES = f"""
WITH pairs AS (
  SELECT DISTINCT 'c:' || CAST(o_custkey AS VARCHAR) AS c,
                  's:' || CAST(l_suppkey AS VARCHAR) AS s
  FROM lineitem JOIN orders ON l_orderkey = o_orderkey),
edges AS (
  SELECT c AS src, s AS dst FROM pairs
  UNION ALL SELECT s AS src, c AS dst FROM pairs),
deg AS (SELECT src, CAST(count(*) AS BIGINT) AS deg FROM edges GROUP BY src),
r0 AS (SELECT src AS node, CAST(1000000 AS BIGINT) AS r FROM deg),
{_pr_round("r0", "r1")},
{_pr_round("r1", "r2")},
{_pr_round("r2", "r3")}
SELECT r3.node, substr(r3.node, 1, 1) AS node_type, d.deg,
       r3.r AS rank_micro
FROM r3 JOIN deg d ON r3.node = d.src"""


def q_rel_cube(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUBE grouping sets over (region, order priority) — all four
    grouping combinations (detail, two marginals, grand total) in one
    pass; completes the grouping-set surface next to rel_rollup.
    Order totals are summed in integer cents (exact BIGINT, order-
    free) since the marginals aggregate enough doubles to hit
    half-cent boundaries. Data has no NULL keys, so 'ALL' coalesce
    markers are unambiguous."""
    orders = load_table(spark, sf_dir, "orders").select(
        "o_custkey", "o_orderpriority", "o_totalprice"
    )
    cust = load_table(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    nation = load_table(spark, sf_dir, "nation")
    region = load_table(spark, sf_dir, "region")
    j = (
        orders.join(cust, orders.o_custkey == cust.c_custkey)
        .join(F.broadcast(nation), cust.c_nationkey == nation.n_nationkey)
        .join(F.broadcast(region), nation.n_regionkey == region.r_regionkey)
        .select(
            "r_name",
            "o_orderpriority",
            F.round(F.col("o_totalprice") * 100).cast("long").alias("cents"),
        )
    )
    return (
        j.cube("r_name", "o_orderpriority")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            (F.sum("cents").cast("double") / 100).alias("total_price"),
        )
        .select(
            F.coalesce("r_name", F.lit("ALL")).alias("r_name"),
            F.coalesce("o_orderpriority", F.lit("ALL")).alias("o_orderpriority"),
            "n_orders",
            "total_price",
        )
    )


SQL_REL_CUBE = """
WITH j AS (
  SELECT r_name, o_orderpriority,
         CAST(round(o_totalprice * 100) AS BIGINT) AS cents
  FROM orders
  JOIN customer ON o_custkey = c_custkey
  JOIN nation ON c_nationkey = n_nationkey
  JOIN region ON n_regionkey = r_regionkey)
SELECT coalesce(r_name, 'ALL') AS r_name,
       coalesce(o_orderpriority, 'ALL') AS o_orderpriority,
       count(*) AS n_orders,
       CAST(sum(cents) AS DOUBLE) / 100 AS total_price
FROM j GROUP BY CUBE (r_name, o_orderpriority)"""


def _rev_cents() -> F.Column:
    """Per-row revenue in integer cents: one product + one round —
    bit-identical across engines."""
    return F.round(
        F.col("l_extendedprice") * (1 - F.col("l_discount")) * 100
    ).cast("long")


# --------------------------------------------------------------------------
# TPC-H Q2 — minimum-cost supplier
# --------------------------------------------------------------------------

def q_tpch_q2_mincost(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q2 (adapted): for STANDARD parts of size 10-20, the
    EUROPE supplier(s) offering the minimum observed unit cost.

    partsupp does not exist, so the part-supplier cost relation is
    DERIVED from lineitem: per (l_partkey, l_suppkey), min unit
    price in integer cents (round(extendedprice/quantity*100) — one
    IEEE divide + product, identical in DuckDB). The correlated-min
    subquery of the original is the per-part window min on the
    already-dimension-filtered relation.

    Plan shape at scale: ONE shuffle builds the derived relation
    (hash agg on the pair key, map-side combinable); part and the
    EUROPE supplier-nation dim are broadcast; the window min runs on
    the post-filter remnant (tiny), not the full relation."""
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_partkey", "l_suppkey", "l_extendedprice", "l_quantity"
    )
    ps = li.groupBy("l_partkey", "l_suppkey").agg(
        F.min(
            F.round(F.col("l_extendedprice") / F.col("l_quantity") * 100)
        ).cast("long").alias("unit_cost_cents")
    )
    part = (
        load_table(spark, sf_dir, "part")
        .filter(
            (F.col("p_type") == "STANDARD")
            & F.col("p_size").between(10, 20)
        )
        .select("p_partkey", "p_name")
    )
    nation = load_table(spark, sf_dir, "nation")
    region = load_table(spark, sf_dir, "region")
    supp = (
        load_table(spark, sf_dir, "supplier")
        .join(
            F.broadcast(
                nation.join(
                    F.broadcast(region.filter(F.col("r_name") == "EUROPE")),
                    nation.n_regionkey == region.r_regionkey,
                ).select("n_nationkey", "n_name")
            ),
            F.col("s_nationkey") == F.col("n_nationkey"),
        )
        .select("s_suppkey", "s_name", "s_acctbal", "n_name")
    )
    w = Window.partitionBy("p_partkey")
    return (
        ps.join(F.broadcast(part), ps.l_partkey == part.p_partkey)
        .join(F.broadcast(supp), ps.l_suppkey == supp.s_suppkey)
        .withColumn("min_cost", F.min("unit_cost_cents").over(w))
        .filter(F.col("unit_cost_cents") == F.col("min_cost"))
        .select(
            "p_partkey", "p_name", "s_name", "s_acctbal", "n_name",
            "unit_cost_cents",
        )
    )


SQL_TPCH_Q2_MINCOST = """
WITH ps AS (
  SELECT l_partkey, l_suppkey,
         CAST(min(round(l_extendedprice / l_quantity * 100)) AS BIGINT)
           AS unit_cost_cents
  FROM lineitem GROUP BY 1, 2
),
eur AS (
  SELECT s_suppkey, s_name, s_acctbal, n_name
  FROM supplier
  JOIN nation ON s_nationkey = n_nationkey
  JOIN region ON n_regionkey = r_regionkey AND r_name = 'EUROPE'
),
cand AS (
  SELECT p_partkey, p_name, s_name, s_acctbal, n_name, unit_cost_cents,
         min(unit_cost_cents) OVER (PARTITION BY p_partkey) AS min_cost
  FROM ps
  JOIN part ON l_partkey = p_partkey
           AND p_type = 'STANDARD' AND p_size BETWEEN 10 AND 20
  JOIN eur ON l_suppkey = s_suppkey
)
SELECT p_partkey, p_name, s_name, s_acctbal, n_name, unit_cost_cents
FROM cand WHERE unit_cost_cents = min_cost"""


# --------------------------------------------------------------------------
# TPC-H Q4 — order priority checking (EXISTS semi-join)
# --------------------------------------------------------------------------

def q_tpch_q4_latesemi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q4 (adapted): per order priority, how many 1997 orders
    had at least one lineitem shipped more than 60 days after the
    order date (the l_commitdate < l_receiptdate lateness predicate
    re-expressed on shipdate vs orderdate).

    Plan shape: a TRUE left-semi join — the lateness predicate lives
    in the join condition, so each order contributes at most once
    regardless of how many late lineitems it has, and Spark never
    materializes the multiplicity. Orderdate-year filter is pushed
    to the orders scan."""
    orders = (
        load_table(spark, sf_dir, "orders")
        .filter(F.year("o_orderdate") == 1997)
        .select("o_orderkey", "o_orderdate", "o_orderpriority")
    )
    li = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_shipdate")
    late = orders.join(
        li,
        (orders.o_orderkey == li.l_orderkey)
        & (F.datediff(li.l_shipdate, orders.o_orderdate) > 60),
        "leftsemi",
    )
    return (
        late.groupBy("o_orderpriority")
        .agg(F.count(F.lit(1)).alias("order_count"))
    )


SQL_TPCH_Q4_LATESEMI = """
SELECT o_orderpriority, count(*) AS order_count
FROM orders
WHERE year(o_orderdate) = 1997
  AND EXISTS (
    SELECT 1 FROM lineitem
    WHERE l_orderkey = o_orderkey
      AND date_diff('day', o_orderdate, l_shipdate) > 60)
GROUP BY 1"""


# --------------------------------------------------------------------------
# TPC-H Q9 — product profit by nation x year
# --------------------------------------------------------------------------

def q_tpch_q9_profit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q9 (adapted): profit on 'widget' parts per supplier
    nation x ship year. ps_supplycost does not exist; the unit-cost
    proxy is 10% of p_retailprice, so
    amount = extendedprice*(1-discount) - 0.1*retailprice*quantity,
    quantized to integer cents per row before the BIGINT sum.

    Plan shape: the name-filtered part dim and supplier/nation dims
    broadcast; the single shuffle is the final (nation, year) hash
    agg with map-side partials."""
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_partkey", "l_suppkey", "l_extendedprice", "l_discount",
        "l_quantity", "l_shipdate",
    )
    part = (
        load_table(spark, sf_dir, "part")
        .filter(F.col("p_name").like("%widget%"))
        .select("p_partkey", "p_retailprice")
    )
    supp = load_table(spark, sf_dir, "supplier").select("s_suppkey", "s_nationkey")
    nation = load_table(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    amount_cents = F.round(
        (
            F.col("l_extendedprice") * (1 - F.col("l_discount"))
            - F.lit(0.1) * F.col("p_retailprice") * F.col("l_quantity")
        )
        * 100
    ).cast("long")
    return (
        li.join(F.broadcast(part), li.l_partkey == part.p_partkey)
        .join(F.broadcast(supp), li.l_suppkey == supp.s_suppkey)
        .join(F.broadcast(nation), F.col("s_nationkey") == F.col("n_nationkey"))
        .groupBy(
            F.col("n_name").alias("nation"),
            F.year("l_shipdate").cast("long").alias("o_year"),
        )
        .agg(
            (F.sum(amount_cents).cast("double") / 100).alias("sum_profit"),
            F.count(F.lit(1)).alias("n_items"),
        )
    )


SQL_TPCH_Q9_PROFIT = """
SELECT n_name AS nation, year(l_shipdate) AS o_year,
       CAST(sum(CAST(round(
         (l_extendedprice * (1 - l_discount)
          - 0.1 * p_retailprice * l_quantity) * 100) AS BIGINT))
         AS DOUBLE) / 100 AS sum_profit,
       count(*) AS n_items
FROM lineitem
JOIN part ON l_partkey = p_partkey AND p_name LIKE '%widget%'
JOIN supplier ON l_suppkey = s_suppkey
JOIN nation ON s_nationkey = n_nationkey
GROUP BY 1, 2"""


# --------------------------------------------------------------------------
# TPC-H Q11 — important value parts (HAVING over scalar total)
# --------------------------------------------------------------------------

def q_tpch_q11_value(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q11 (adapted): parts whose revenue shipped by EUROPE
    suppliers exceeds 0.1% of the EUROPE grand total. The
    ps_supplycost*ps_availqty inventory value is re-expressed as
    shipped revenue in integer cents; the HAVING-over-scalar shape
    is an integer cross-multiplication (value_cents * 1000 > total)
    so no float division touches the comparison.

    Plan shape: ONE shuffle (per-part hash agg); the grand total is
    a second pass over the tiny per-part agg, broadcast back as a
    1-row literal join — not a driver round-trip."""
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_partkey", "l_suppkey", "l_extendedprice", "l_discount"
    )
    nation = load_table(spark, sf_dir, "nation")
    region = load_table(spark, sf_dir, "region")
    eur_supp = (
        load_table(spark, sf_dir, "supplier")
        .join(
            F.broadcast(
                nation.join(
                    F.broadcast(region.filter(F.col("r_name") == "EUROPE")),
                    nation.n_regionkey == region.r_regionkey,
                ).select("n_nationkey")
            ),
            F.col("s_nationkey") == F.col("n_nationkey"),
        )
        .select("s_suppkey")
    )
    per_part = (
        li.join(F.broadcast(eur_supp), li.l_suppkey == eur_supp.s_suppkey)
        .groupBy("l_partkey")
        .agg(F.sum(_rev_cents()).alias("value_cents"))
    )
    total = per_part.agg(F.sum("value_cents").alias("_total"))
    part = load_table(spark, sf_dir, "part").select("p_partkey", "p_name")
    return (
        per_part.join(F.broadcast(total))
        .filter(F.col("value_cents") * 1000 > F.col("_total"))
        .join(F.broadcast(part), F.col("l_partkey") == part.p_partkey)
        .select("p_partkey", "p_name", "value_cents")
    )


SQL_TPCH_Q11_VALUE = """
WITH eur AS (
  SELECT s_suppkey FROM supplier
  JOIN nation ON s_nationkey = n_nationkey
  JOIN region ON n_regionkey = r_regionkey AND r_name = 'EUROPE'
),
pv AS (
  SELECT l_partkey,
         CAST(sum(CAST(round(l_extendedprice * (1 - l_discount) * 100)
                       AS BIGINT)) AS BIGINT) AS value_cents
  FROM lineitem JOIN eur ON l_suppkey = s_suppkey
  GROUP BY 1
)
SELECT p_partkey, p_name, value_cents
FROM pv
JOIN part ON l_partkey = p_partkey
WHERE value_cents * 1000 > (SELECT CAST(sum(value_cents) AS BIGINT) FROM pv)"""


# --------------------------------------------------------------------------
# TPC-H Q12 — lateness buckets x priority classes
# --------------------------------------------------------------------------

def q_tpch_q12_latemode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q12 (adapted): l_shipmode does not exist, so lines ship
    in LATE / SLOW / FAST buckets by shipdate-minus-orderdate lag
    (>90 / >30 / rest days); per bucket, count critical-priority
    (1-URGENT, 2-HIGH) vs other lines for 1998 shipments — the
    CASE-sum pivot of the original intact.

    Plan shape: one orderkey join (orders projected to two columns),
    one 3-group hash agg; the year filter prunes at the lineitem
    scan."""
    li = (
        load_table(spark, sf_dir, "lineitem")
        .filter(F.year("l_shipdate") == 1998)
        .select("l_orderkey", "l_shipdate")
    )
    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderdate", "o_orderpriority"
    )
    lag = F.datediff("l_shipdate", "o_orderdate")
    bucket = (
        F.when(lag > 90, "LATE").when(lag > 30, "SLOW").otherwise("FAST")
    )
    crit = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .groupBy(bucket.alias("ship_bucket"))
        .agg(
            F.sum(F.when(crit, 1).otherwise(0)).cast("long").alias("high_line_count"),
            F.sum(F.when(crit, 0).otherwise(1)).cast("long").alias("low_line_count"),
        )
    )


SQL_TPCH_Q12_LATEMODE = """
SELECT CASE WHEN date_diff('day', o_orderdate, l_shipdate) > 90 THEN 'LATE'
            WHEN date_diff('day', o_orderdate, l_shipdate) > 30 THEN 'SLOW'
            ELSE 'FAST' END AS ship_bucket,
       CAST(sum(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
                     THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
       CAST(sum(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
                     THEN 0 ELSE 1 END) AS BIGINT) AS low_line_count
FROM lineitem JOIN orders ON l_orderkey = o_orderkey
WHERE year(l_shipdate) = 1998
GROUP BY 1"""


# --------------------------------------------------------------------------
# TPC-H Q15 — top supplier (view + scalar max)
# --------------------------------------------------------------------------

def q_tpch_q15_topsupp(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q15: supplier(s) with maximum revenue for Q1-1996
    shipments. The revenue view is a per-supplier cents agg; the
    scalar max is a second agg over that tiny view, broadcast back
    (the WHERE total = (SELECT max...) shape).

    Plan shape: one shuffle (supplier hash agg over the
    date-pruned scan); everything downstream is broadcast."""
    li = (
        load_table(spark, sf_dir, "lineitem")
        .filter(
            (F.col("l_shipdate") >= F.lit("1996-01-01"))
            & (F.col("l_shipdate") < F.lit("1996-04-01"))
        )
        .select("l_suppkey", "l_extendedprice", "l_discount")
    )
    rev = li.groupBy("l_suppkey").agg(F.sum(_rev_cents()).alias("rev_cents"))
    mx = rev.agg(F.max("rev_cents").alias("_max"))
    supp = load_table(spark, sf_dir, "supplier").select("s_suppkey", "s_name")
    return (
        rev.join(F.broadcast(mx))
        .filter(F.col("rev_cents") == F.col("_max"))
        .join(F.broadcast(supp), F.col("l_suppkey") == supp.s_suppkey)
        .select(
            "s_suppkey", "s_name",
            (F.col("rev_cents").cast("double") / 100).alias("total_revenue"),
        )
    )


SQL_TPCH_Q15_TOPSUPP = """
WITH rev AS (
  SELECT l_suppkey,
         CAST(sum(CAST(round(l_extendedprice * (1 - l_discount) * 100)
                       AS BIGINT)) AS BIGINT) AS rev_cents
  FROM lineitem
  WHERE l_shipdate >= TIMESTAMP '1996-01-01'
    AND l_shipdate < TIMESTAMP '1996-04-01'
  GROUP BY 1
)
SELECT s_suppkey, s_name, CAST(rev_cents AS DOUBLE) / 100 AS total_revenue
FROM rev JOIN supplier ON l_suppkey = s_suppkey
WHERE rev_cents = (SELECT max(rev_cents) FROM rev)"""


# --------------------------------------------------------------------------
# TPC-H Q16 — supplier count per (brand, type, size)
# --------------------------------------------------------------------------

def q_tpch_q16_suppcnt(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q16 (adapted): how many distinct suppliers have shipped
    each (brand, type, size) combination, for eight sizes, excluding
    Brand#4 and PROMO parts, and excluding suppliers with negative
    account balance (the NOT IN complaints subquery re-expressed as
    an anti-join on the derived shipping relation).

    Plan shape: the part-supplier relation is DERIVED as distinct
    (l_partkey, l_suppkey) — one shuffle; the bad-supplier set and
    the filtered part dim broadcast; count(DISTINCT) runs on the
    post-filter remnant."""
    pairs = (
        load_table(spark, sf_dir, "lineitem")
        .select("l_partkey", "l_suppkey")
        .distinct()
    )
    part = (
        load_table(spark, sf_dir, "part")
        .filter(
            (F.col("p_brand") != "Brand#4")
            & (F.col("p_type") != "PROMO")
            & F.col("p_size").isin(1, 4, 9, 14, 19, 24, 29, 34)
        )
        .select("p_partkey", "p_brand", "p_type", "p_size")
    )
    bad = (
        load_table(spark, sf_dir, "supplier")
        .filter(F.col("s_acctbal") < 0)
        .select("s_suppkey")
    )
    return (
        pairs.join(F.broadcast(part), pairs.l_partkey == part.p_partkey)
        .join(F.broadcast(bad), pairs.l_suppkey == bad.s_suppkey, "left_anti")
        .groupBy("p_brand", "p_type", "p_size")
        .agg(F.countDistinct("l_suppkey").alias("supplier_cnt"))
    )


SQL_TPCH_Q16_SUPPCNT = """
WITH pairs AS (SELECT DISTINCT l_partkey, l_suppkey FROM lineitem)
SELECT p_brand, p_type, p_size,
       count(DISTINCT l_suppkey) AS supplier_cnt
FROM pairs
JOIN part ON l_partkey = p_partkey
WHERE p_brand <> 'Brand#4' AND p_type <> 'PROMO'
  AND p_size IN (1, 4, 9, 14, 19, 24, 29, 34)
  AND l_suppkey NOT IN (SELECT s_suppkey FROM supplier WHERE s_acctbal < 0)
GROUP BY 1, 2, 3"""


# --------------------------------------------------------------------------
# TPC-H Q17 — small-quantity-order revenue (correlated avg)
# --------------------------------------------------------------------------

def q_tpch_q17_smallqty(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q17 (adapted, per-brand): average yearly revenue lost
    if small-quantity orders (below 20% of the part's average
    quantity) moved to scheduled deliveries. p_container does not
    exist, so the report is per brand instead of one
    (brand, container) cell.

    Determinism: l_quantity is integer-valued, so per-part
    sum/count — and hence the 0.2*avg threshold — is exact in
    double; revenue is cents-quantized before the BIGINT sum.

    Plan shape: per-part avg is one hash agg; the threshold joins
    back on partkey (co-partitioned with the first shuffle under
    AQE); the per-brand final agg is tiny."""
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_partkey", "l_quantity", "l_extendedprice"
    )
    avg_q = li.groupBy("l_partkey").agg(
        F.avg("l_quantity").alias("avg_qty")
    )
    part = load_table(spark, sf_dir, "part").select("p_partkey", "p_brand")
    return (
        li.join(avg_q, "l_partkey")
        .filter(F.col("l_quantity") < F.lit(0.2) * F.col("avg_qty"))
        .join(F.broadcast(part), F.col("l_partkey") == part.p_partkey)
        .groupBy("p_brand")
        .agg(
            (
                F.sum(F.round(F.col("l_extendedprice") * 100).cast("long"))
                .cast("double") / 100 / 7.0
            ).alias("avg_yearly"),
            F.count(F.lit(1)).alias("n_small"),
        )
    )


SQL_TPCH_Q17_SMALLQTY = """
WITH aq AS (
  SELECT l_partkey AS ak, avg(l_quantity) AS avg_qty
  FROM lineitem GROUP BY 1
)
SELECT p_brand,
       CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT))
            AS DOUBLE) / 100 / 7.0 AS avg_yearly,
       count(*) AS n_small
FROM lineitem
JOIN aq ON l_partkey = ak
JOIN part ON l_partkey = p_partkey
WHERE l_quantity < 0.2 * avg_qty
GROUP BY 1"""


# --------------------------------------------------------------------------
# TPC-H Q20 — potential part promotion (semi-join + HAVING)
# --------------------------------------------------------------------------

def q_tpch_q20_potential(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q20 (adapted): suppliers who shipped more than 200
    units of 'red' parts during 1997 (the ps_availqty > half-of-
    shipped threshold re-expressed as an absolute HAVING on shipped
    quantity), with their nation.

    Plan shape: name-filtered part dim broadcast into the
    date-pruned lineitem scan; one per-supplier hash agg; supplier/
    nation dims broadcast onto the surviving handful of rows."""
    li = (
        load_table(spark, sf_dir, "lineitem")
        .filter(F.year("l_shipdate") == 1997)
        .select("l_partkey", "l_suppkey", "l_quantity")
    )
    part = (
        load_table(spark, sf_dir, "part")
        .filter(F.col("p_name").like("red%"))
        .select("p_partkey")
    )
    supp = load_table(spark, sf_dir, "supplier").select(
        "s_suppkey", "s_name", "s_nationkey"
    )
    nation = load_table(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    return (
        li.join(F.broadcast(part), li.l_partkey == part.p_partkey)
        .groupBy("l_suppkey")
        .agg(F.sum(F.col("l_quantity").cast("long")).alias("qty_shipped"))
        .filter(F.col("qty_shipped") > 200)
        .join(F.broadcast(supp), F.col("l_suppkey") == supp.s_suppkey)
        .join(F.broadcast(nation), F.col("s_nationkey") == F.col("n_nationkey"))
        .select("s_suppkey", "s_name", "n_name", "qty_shipped")
    )


SQL_TPCH_Q20_POTENTIAL = """
SELECT s_suppkey, s_name, n_name, qty_shipped
FROM (
  SELECT l_suppkey,
         CAST(sum(CAST(l_quantity AS BIGINT)) AS BIGINT) AS qty_shipped
  FROM lineitem
  JOIN part ON l_partkey = p_partkey AND p_name LIKE 'red%'
  WHERE year(l_shipdate) = 1997
  GROUP BY 1
) q
JOIN supplier ON l_suppkey = s_suppkey
JOIN nation ON s_nationkey = n_nationkey
WHERE qty_shipped > 200"""


# --------------------------------------------------------------------------
# TPC-H Q21 — suppliers who kept orders waiting
# --------------------------------------------------------------------------

def q_tpch_q21_waiting(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q21 (adapted): per supplier, the number of finalized
    ('F') multi-supplier orders where THIS supplier was the sole
    latest shipper — the EXISTS(other supplier) / NOT EXISTS(other
    equally-late supplier) pair re-expressed on l_shipdate (the
    receipt/commit columns do not exist).

    Plan shape: three hash aggs — (orderkey, suppkey) max-shipdate,
    per-order rollup (n suppliers, order max), then a per-order
    winner rollup where min(l_suppkey) IS the sole winner whenever
    the winner count is 1 — so no window ever touches per-supplier
    rows. Orders ('F' filter) joins on orderkey before the first agg
    so pruning happens early, and all three aggs + the join share
    the orderkey partitioning (AQE reuses the exchange)."""
    orders = (
        load_table(spark, sf_dir, "orders")
        .filter(F.col("o_orderstatus") == "F")
        .select("o_orderkey")
    )
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_suppkey", "l_shipdate"
    )
    per_supp = (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .groupBy("l_orderkey", "l_suppkey")
        .agg(F.max("l_shipdate").alias("s_max"))
    )
    per_order = per_supp.groupBy("l_orderkey").agg(
        F.count(F.lit(1)).alias("n_supp"),
        F.max("s_max").alias("o_max"),
    )
    winners = (
        per_supp.join(per_order, "l_orderkey")
        .filter((F.col("s_max") == F.col("o_max")) & (F.col("n_supp") >= 2))
        .groupBy("l_orderkey")
        .agg(
            F.count(F.lit(1)).alias("n_winners"),
            F.min("l_suppkey").alias("winner"),
        )
        .filter(F.col("n_winners") == 1)
    )
    supp = load_table(spark, sf_dir, "supplier").select("s_suppkey", "s_name")
    return (
        winners.groupBy("winner")
        .agg(F.count(F.lit(1)).alias("numwait"))
        .join(F.broadcast(supp), F.col("winner") == supp.s_suppkey)
        .select("s_suppkey", "s_name", "numwait")
    )


SQL_TPCH_Q21_WAITING = """
WITH per_supp AS (
  SELECT l_orderkey, l_suppkey, max(l_shipdate) AS s_max
  FROM lineitem
  JOIN orders ON l_orderkey = o_orderkey AND o_orderstatus = 'F'
  GROUP BY 1, 2
),
per_order AS (
  SELECT l_orderkey AS ok, count(*) AS n_supp, max(s_max) AS o_max
  FROM per_supp GROUP BY 1
),
winners AS (
  SELECT l_orderkey, count(*) AS n_winners, min(l_suppkey) AS winner
  FROM per_supp JOIN per_order ON l_orderkey = ok
  WHERE s_max = o_max AND n_supp >= 2
  GROUP BY 1
)
SELECT s_suppkey, s_name, numwait
FROM (
  SELECT winner, count(*) AS numwait
  FROM winners WHERE n_winners = 1
  GROUP BY 1
) w
JOIN supplier ON winner = s_suppkey"""


# --------------------------------------------------------------------------
# Triangle counting on the hourly co-occurrence graph
# --------------------------------------------------------------------------

_TRI_BUCKET_CAP = 20


def cooccurrence_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The shared user co-occurrence graph: distinct (ua < ub) pairs
    of users acting in the same (event_type, hour) bucket, with
    buckets over the hot cap dropped BEFORE the pair self-join.
    Returned PINNED (operators/pinning.py) because every consumer fans
    out over it multiple times."""
    ev = _events_raw(spark, sf_dir)
    bucket_users = (
        ev.select(
            "event_type",
            F.date_trunc("hour", F.col("ts")).alias("h"),
            "user_id",
        )
        .distinct()
    )
    sized = bucket_users.withColumn(
        "_bn", F.count(F.lit(1)).over(Window.partitionBy("event_type", "h"))
    ).filter(F.col("_bn") <= _TRI_BUCKET_CAP)
    a = sized.select("event_type", "h", F.col("user_id").alias("ua"))
    b = sized.select("event_type", "h", F.col("user_id").alias("ub"))
    return pin(
        a.join(b, ["event_type", "h"])
        .filter(F.col("ua") < F.col("ub"))
        .select("ua", "ub")
        .distinct(),
        eager=True,
    )


def q_triangle_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user triangle participation: users are linked when they
    act in the same (event_type, hour) bucket; triangles are the
    standard two-hop join a<b<c with the closing (a, c) edge checked
    by an inner join on the deduplicated edge set.

    Hot-bucket guard: buckets with more than 20 distinct users are
    dropped BEFORE the pair self-join (documented contract, same
    rule both engines), bounding per-bucket pair fan-out at cap^2 —
    the same discipline as the MinHash-LSH hot-bucket guard.

    Plan shape at scale: bucket agg (one shuffle) -> bounded
    per-bucket pair explosion -> edge distinct (shuffle on the pair
    key), then the edge set is PINNED (operators/pinning.py) because five
    downstream branches read it (e1/e2/the closing semi-join/both
    degree sides) — unpinned, Catalyst recomputes the whole edge
    subtree per branch (measured E=30 vs E<=8 pinned). The two-hop
    join partitions on the shared vertex. No CartesianProduct;
    every join is keyed."""
    edges = cooccurrence_edges(spark, sf_dir)
    e1 = edges.select(F.col("ua").alias("a"), F.col("ub").alias("b"))
    e2 = edges.select(F.col("ua").alias("b2"), F.col("ub").alias("c"))
    e3 = edges.select(F.col("ua").alias("a3"), F.col("ub").alias("c3"))
    tris = (
        e1.join(e2, F.col("b") == F.col("b2"))
        .join(
            e3,
            (F.col("a") == F.col("a3")) & (F.col("c") == F.col("c3")),
            "leftsemi",
        )
        .select("a", "b", "c")
    )
    tri_nodes = tris.select(
        F.explode(F.array("a", "b", "c")).alias("user_id")
    ).groupBy("user_id").agg(F.count(F.lit(1)).alias("n_triangles"))
    degree = (
        edges.select(F.col("ua").alias("user_id"))
        .unionAll(edges.select(F.col("ub").alias("user_id")))
        .groupBy("user_id")
        .agg(F.count(F.lit(1)).alias("degree"))
    )
    return (
        degree.join(tri_nodes, "user_id", "left")
        .select(
            "user_id", "degree",
            F.coalesce("n_triangles", F.lit(0)).alias("n_triangles"),
        )
    )


SQL_TRIANGLE_COUNTS = """
WITH bu AS (
  SELECT DISTINCT event_type, date_trunc('hour', ts) AS h, user_id
  FROM events
),
sized AS (
  SELECT *, count(*) OVER (PARTITION BY event_type, h) AS _bn FROM bu
),
ok AS (SELECT * FROM sized WHERE _bn <= 20),
edges AS (
  SELECT DISTINCT x.user_id AS ua, y.user_id AS ub
  FROM ok x JOIN ok y
    ON x.event_type = y.event_type AND x.h = y.h AND x.user_id < y.user_id
),
tris AS (
  SELECT e1.ua AS a, e1.ub AS b, e2.ub AS c
  FROM edges e1
  JOIN edges e2 ON e1.ub = e2.ua
  WHERE EXISTS (SELECT 1 FROM edges e3
                WHERE e3.ua = e1.ua AND e3.ub = e2.ub)
),
tn AS (
  SELECT user_id, count(*) AS n_triangles FROM (
    SELECT a AS user_id FROM tris
    UNION ALL SELECT b FROM tris
    UNION ALL SELECT c FROM tris
  ) GROUP BY 1
),
deg AS (
  SELECT user_id, count(*) AS degree FROM (
    SELECT ua AS user_id FROM edges UNION ALL SELECT ub FROM edges
  ) GROUP BY 1
)
SELECT deg.user_id, degree, coalesce(n_triangles, 0) AS n_triangles
FROM deg LEFT JOIN tn ON deg.user_id = tn.user_id"""


# --------------------------------------------------------------------------
# dq_checks — declarative constraint suite
# --------------------------------------------------------------------------

def q_dq_checks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Constraint suite over events / documents / orders / lineitem:
    completeness, ranges, set membership, key uniqueness. Each
    table's row-level checks compile to ONE conditional-sum agg over
    one scan (Deequ's analyzer batching); uniqueness adds one keyed
    agg. Unions of tiny per-table results are driver-free."""
    ev = load_table(spark, sf_dir, "events")
    docs = load_table(spark, sf_dir, "documents")
    orders = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    parts = [
        dq.run_suite(
            ev,
            "events",
            [
                dq.not_null("event_id"),
                dq.not_null("ts"),
                dq.not_null("user_id"),
                dq.in_set(
                    "event_type",
                    ("view", "click", "purchase", "signup", "error"),
                ),
                dq.in_range("value", 0.0, 1e6),
            ],
        ),
        dq.uniqueness(ev, "events", ["event_id"]),
        dq.run_suite(
            docs,
            "documents",
            [
                dq.not_null("doc_id"),
                dq.not_null("text"),
                dq.non_negative("n_chars"),
            ],
        ),
        dq.uniqueness(docs, "documents", ["doc_id"]),
        dq.run_suite(
            orders,
            "orders",
            [
                dq.not_null("o_orderkey"),
                dq.in_set("o_orderstatus", ("O", "F", "P")),
                dq.non_negative("o_totalprice"),
                dq.in_set(
                    "o_orderpriority",
                    (
                        "1-URGENT", "2-HIGH", "3-MEDIUM",
                        "4-NOT SPECIFIED", "5-LOW",
                    ),
                ),
            ],
        ),
        dq.uniqueness(orders, "orders", ["o_orderkey"]),
        dq.run_suite(
            li,
            "lineitem",
            [
                dq.not_null("l_orderkey"),
                dq.in_range("l_quantity", 1.0, 50.0),
                dq.in_range("l_discount", 0.0, 1.0),
                dq.non_negative("l_extendedprice"),
            ],
        ),
        dq.uniqueness(li, "lineitem", ["l_orderkey", "l_linenumber"]),
    ]
    out = parts[0]
    for p in parts[1:]:
        out = out.unionAll(p)
    return out


SQL_DQ_CHECKS = """
WITH ev AS (
  SELECT count(*) AS n,
         CAST(sum(CASE WHEN event_id IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS v0,
         CAST(sum(CASE WHEN ts IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS v1,
         CAST(sum(CASE WHEN user_id IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS v2,
         CAST(sum(CASE WHEN event_type IS NOT NULL AND event_type NOT IN
              ('view','click','purchase','signup','error') THEN 1 ELSE 0 END) AS BIGINT) AS v3,
         CAST(sum(CASE WHEN value IS NOT NULL AND value NOT BETWEEN 0.0 AND 1e6
              THEN 1 ELSE 0 END) AS BIGINT) AS v4
  FROM events
),
docs AS (
  SELECT count(*) AS n,
         CAST(sum(CASE WHEN doc_id IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS v0,
         CAST(sum(CASE WHEN text IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS v1,
         CAST(sum(CASE WHEN n_chars IS NOT NULL AND n_chars < 0 THEN 1 ELSE 0 END) AS BIGINT) AS v2
  FROM documents
),
ord AS (
  SELECT count(*) AS n,
         CAST(sum(CASE WHEN o_orderkey IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS v0,
         CAST(sum(CASE WHEN o_orderstatus IS NOT NULL AND o_orderstatus NOT IN
              ('O','F','P') THEN 1 ELSE 0 END) AS BIGINT) AS v1,
         CAST(sum(CASE WHEN o_totalprice IS NOT NULL AND o_totalprice < 0 THEN 1 ELSE 0 END) AS BIGINT) AS v2,
         CAST(sum(CASE WHEN o_orderpriority IS NOT NULL AND o_orderpriority NOT IN
              ('1-URGENT','2-HIGH','3-MEDIUM','4-NOT SPECIFIED','5-LOW')
              THEN 1 ELSE 0 END) AS BIGINT) AS v3
  FROM orders
),
lin AS (
  SELECT count(*) AS n,
         CAST(sum(CASE WHEN l_orderkey IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS v0,
         CAST(sum(CASE WHEN l_quantity IS NOT NULL AND l_quantity NOT BETWEEN 1.0 AND 50.0
              THEN 1 ELSE 0 END) AS BIGINT) AS v1,
         CAST(sum(CASE WHEN l_discount IS NOT NULL AND l_discount NOT BETWEEN 0.0 AND 1.0
              THEN 1 ELSE 0 END) AS BIGINT) AS v2,
         CAST(sum(CASE WHEN l_extendedprice IS NOT NULL AND l_extendedprice < 0
              THEN 1 ELSE 0 END) AS BIGINT) AS v3
  FROM lineitem
),
uev AS (SELECT CAST(coalesce(sum(k), 0) AS BIGINT) AS d FROM
        (SELECT count(*) AS k FROM events GROUP BY event_id HAVING count(*) > 1)),
udoc AS (SELECT CAST(coalesce(sum(k), 0) AS BIGINT) AS d FROM
        (SELECT count(*) AS k FROM documents GROUP BY doc_id HAVING count(*) > 1)),
uord AS (SELECT CAST(coalesce(sum(k), 0) AS BIGINT) AS d FROM
        (SELECT count(*) AS k FROM orders GROUP BY o_orderkey HAVING count(*) > 1)),
ulin AS (SELECT CAST(coalesce(sum(k), 0) AS BIGINT) AS d FROM
        (SELECT count(*) AS k FROM lineitem GROUP BY l_orderkey, l_linenumber
         HAVING count(*) > 1))
SELECT 'events' AS table_name, 'not_null(event_id)' AS check_name,
       n AS n_rows, v0 AS n_violations, v0 = 0 AS passed FROM ev
UNION ALL SELECT 'events', 'not_null(ts)', n, v1, v1 = 0 FROM ev
UNION ALL SELECT 'events', 'not_null(user_id)', n, v2, v2 = 0 FROM ev
UNION ALL SELECT 'events', 'in_set(event_type)', n, v3, v3 = 0 FROM ev
UNION ALL SELECT 'events', 'range(value)', n, v4, v4 = 0 FROM ev
UNION ALL SELECT 'events', 'unique(event_id)', n, d, d = 0 FROM ev, uev
UNION ALL SELECT 'documents', 'not_null(doc_id)', n, v0, v0 = 0 FROM docs
UNION ALL SELECT 'documents', 'not_null(text)', n, v1, v1 = 0 FROM docs
UNION ALL SELECT 'documents', 'non_negative(n_chars)', n, v2, v2 = 0 FROM docs
UNION ALL SELECT 'documents', 'unique(doc_id)', n, d, d = 0 FROM docs, udoc
UNION ALL SELECT 'orders', 'not_null(o_orderkey)', n, v0, v0 = 0 FROM ord
UNION ALL SELECT 'orders', 'in_set(o_orderstatus)', n, v1, v1 = 0 FROM ord
UNION ALL SELECT 'orders', 'non_negative(o_totalprice)', n, v2, v2 = 0 FROM ord
UNION ALL SELECT 'orders', 'in_set(o_orderpriority)', n, v3, v3 = 0 FROM ord
UNION ALL SELECT 'orders', 'unique(o_orderkey)', n, d, d = 0 FROM ord, uord
UNION ALL SELECT 'lineitem', 'not_null(l_orderkey)', n, v0, v0 = 0 FROM lin
UNION ALL SELECT 'lineitem', 'range(l_quantity)', n, v1, v1 = 0 FROM lin
UNION ALL SELECT 'lineitem', 'range(l_discount)', n, v2, v2 = 0 FROM lin
UNION ALL SELECT 'lineitem', 'non_negative(l_extendedprice)', n, v3, v3 = 0 FROM lin
UNION ALL SELECT 'lineitem', 'unique(l_orderkey,l_linenumber)', n, d, d = 0 FROM lin, ulin"""


# --------------------------------------------------------------------------
# fk_orphans — referential-integrity audit
# --------------------------------------------------------------------------

def q_fk_orphans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Orphan counts for the six star-schema foreign keys, each an
    anti-join of child against parent keys. Parents are broadcast
    when dimension-sized; the lineitem->orders relation shuffles on
    the key (at 100 TB that parent is also huge — exactly the case
    where you want the plain keyed anti-join, not a broadcast).

    Output: one row per relation with child row count and orphan
    count."""
    li = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders")
    cust = load_table(spark, sf_dir, "customer")
    supp = load_table(spark, sf_dir, "supplier")
    part = load_table(spark, sf_dir, "part")
    nation = load_table(spark, sf_dir, "nation")
    region = load_table(spark, sf_dir, "region")

    def rel(name, child, ckey, parent, pkey, bcast):
        p = parent.select(pkey).distinct()
        if bcast:
            p = F.broadcast(p)
        orphans = child.select(ckey).join(
            p, F.col(ckey) == F.col(pkey), "left_anti"
        )
        return (
            child.agg(F.count(F.lit(1)).alias("n_child"))
            .join(orphans.agg(F.count(F.lit(1)).alias("n_orphans")))
            .select(
                F.lit(name).alias("relation"),
                "n_child",
                "n_orphans",
                (F.col("n_orphans") == 0).alias("intact"),
            )
        )

    parts = [
        rel("lineitem.l_orderkey->orders", li, "l_orderkey", orders, "o_orderkey", False),
        rel("lineitem.l_partkey->part", li, "l_partkey", part, "p_partkey", True),
        rel("lineitem.l_suppkey->supplier", li, "l_suppkey", supp, "s_suppkey", True),
        rel("orders.o_custkey->customer", orders, "o_custkey", cust, "c_custkey", True),
        rel("customer.c_nationkey->nation", cust, "c_nationkey", nation, "n_nationkey", True),
        rel("nation.n_regionkey->region", nation, "n_regionkey", region, "r_regionkey", True),
    ]
    out = parts[0]
    for p in parts[1:]:
        out = out.unionAll(p)
    return out


SQL_FK_ORPHANS = """
SELECT 'lineitem.l_orderkey->orders' AS relation,
       (SELECT count(*) FROM lineitem) AS n_child,
       (SELECT count(*) FROM lineitem WHERE l_orderkey NOT IN
          (SELECT o_orderkey FROM orders)) AS n_orphans,
       (SELECT count(*) FROM lineitem WHERE l_orderkey NOT IN
          (SELECT o_orderkey FROM orders)) = 0 AS intact
UNION ALL
SELECT 'lineitem.l_partkey->part', (SELECT count(*) FROM lineitem),
       (SELECT count(*) FROM lineitem WHERE l_partkey NOT IN
          (SELECT p_partkey FROM part)),
       (SELECT count(*) FROM lineitem WHERE l_partkey NOT IN
          (SELECT p_partkey FROM part)) = 0
UNION ALL
SELECT 'lineitem.l_suppkey->supplier', (SELECT count(*) FROM lineitem),
       (SELECT count(*) FROM lineitem WHERE l_suppkey NOT IN
          (SELECT s_suppkey FROM supplier)),
       (SELECT count(*) FROM lineitem WHERE l_suppkey NOT IN
          (SELECT s_suppkey FROM supplier)) = 0
UNION ALL
SELECT 'orders.o_custkey->customer', (SELECT count(*) FROM orders),
       (SELECT count(*) FROM orders WHERE o_custkey NOT IN
          (SELECT c_custkey FROM customer)),
       (SELECT count(*) FROM orders WHERE o_custkey NOT IN
          (SELECT c_custkey FROM customer)) = 0
UNION ALL
SELECT 'customer.c_nationkey->nation', (SELECT count(*) FROM customer),
       (SELECT count(*) FROM customer WHERE c_nationkey NOT IN
          (SELECT n_nationkey FROM nation)),
       (SELECT count(*) FROM customer WHERE c_nationkey NOT IN
          (SELECT n_nationkey FROM nation)) = 0
UNION ALL
SELECT 'nation.n_regionkey->region', (SELECT count(*) FROM nation),
       (SELECT count(*) FROM nation WHERE n_regionkey NOT IN
          (SELECT r_regionkey FROM region)),
       (SELECT count(*) FROM nation WHERE n_regionkey NOT IN
          (SELECT r_regionkey FROM region)) = 0"""


# --------------------------------------------------------------------------
# sql_surface_q3 — the raw SQL query language
# --------------------------------------------------------------------------

_Q3_SQL = """
SELECT l_orderkey,
       CAST(sum(CAST(round(l_extendedprice * (1 - l_discount) * 100)
                     AS BIGINT)) AS DOUBLE) / 100 AS revenue,
       count(*) AS n_items
FROM customer
JOIN orders ON c_custkey = o_custkey
JOIN lineitem ON l_orderkey = o_orderkey
WHERE c_mktsegment = 'BUILDING'
  AND o_orderdate < TIMESTAMP '1996-01-01'
  AND l_shipdate > TIMESTAMP '1996-01-01'
GROUP BY l_orderkey
ORDER BY revenue DESC, l_orderkey
LIMIT 20"""


def q_sql_surface_q3(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The engine's SECOND query language: the same ANSI text runs
    through spark.sql() here and through DuckDB as the oracle —
    zero dialect translation. Views are registered per-call
    (createOrReplaceTempView is metadata-only); Catalyst plans the
    text identically to the DataFrame form of Q3 (same pushdowns,
    same broadcasts under AQE).

    The deliberate point: a user of the reference can keep their SQL
    instead of learning the DataFrame API."""
    for t in ("customer", "orders", "lineitem"):
        load_table(spark, sf_dir, t).createOrReplaceTempView(t)
    return spark.sql(_Q3_SQL)


# --------------------------------------------------------------------------
# market_basket — pair support + lift
# --------------------------------------------------------------------------

def q_market_basket(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Association rules over order baskets: part pairs co-occurring
    in >= 3 orders, with support (floor-div micro) and lift
    ((N * c_ab) / (c_a * c_b), one exact-integer division).

    Plan shape at scale: the self-join is keyed on l_orderkey and
    bounded by basket size (max 13 lines here; the hot-bucket guard
    family applies if a degenerate order had thousands) — pair
    fan-out is sum(k^2) over baskets, never corpus^2. Item counts
    ride a second hash agg of the SAME deduped basket relation; the
    per-item table broadcasts into the pair table twice.

    Basket dedup first: a part appearing on two lineitems of one
    order must count once (DISTINCT before the self-join, not
    after)."""
    baskets = (
        load_table(spark, sf_dir, "lineitem")
        .select("l_orderkey", "l_partkey")
        .distinct()
    )
    n_orders = baskets.select("l_orderkey").distinct().agg(
        F.count(F.lit(1)).alias("n_orders")
    )
    items = baskets.groupBy("l_partkey").agg(
        F.count(F.lit(1)).alias("c_item")
    )
    a = baskets.select("l_orderkey", F.col("l_partkey").alias("pa"))
    b = baskets.select("l_orderkey", F.col("l_partkey").alias("pb"))
    pairs = (
        a.join(b, "l_orderkey")
        .filter(F.col("pa") < F.col("pb"))
        .groupBy("pa", "pb")
        .agg(F.count(F.lit(1)).alias("c_ab"))
        .filter(F.col("c_ab") >= 3)
    )
    ia = items.select(F.col("l_partkey").alias("pa"), F.col("c_item").alias("c_a"))
    ib = items.select(F.col("l_partkey").alias("pb"), F.col("c_item").alias("c_b"))
    return (
        pairs.join(F.broadcast(ia), "pa")
        .join(F.broadcast(ib), "pb")
        .join(F.broadcast(n_orders))
        .select(
            "pa", "pb", "c_ab", "c_a", "c_b",
            F.expr("(1000000 * c_ab) DIV n_orders").alias("support_micro"),
            (
                (F.col("n_orders") * F.col("c_ab")).cast("double")
                / (F.col("c_a") * F.col("c_b")).cast("double")
            ).alias("lift"),
        )
    )


SQL_MARKET_BASKET = """
WITH baskets AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
n AS (SELECT count(DISTINCT l_orderkey) AS n_orders FROM baskets),
items AS (SELECT l_partkey, count(*) AS c_item FROM baskets GROUP BY 1),
pairs AS (
  SELECT a.l_partkey AS pa, b.l_partkey AS pb, count(*) AS c_ab
  FROM baskets a JOIN baskets b
    ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
  GROUP BY 1, 2 HAVING count(*) >= 3
)
SELECT pa, pb, c_ab, ia.c_item AS c_a, ib.c_item AS c_b,
       (1000000 * c_ab) // n_orders AS support_micro,
       CAST(n_orders * c_ab AS DOUBLE)
       / CAST(ia.c_item * ib.c_item AS DOUBLE) AS lift
FROM pairs
JOIN items ia ON pa = ia.l_partkey
JOIN items ib ON pb = ib.l_partkey
CROSS JOIN n"""


# --------------------------------------------------------------------------
# rfm_segments — NTILE(5) RFM segmentation
# --------------------------------------------------------------------------

def q_rfm_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RFM segmentation: per customer, recency (days from last order
    to the corpus max date), frequency (order count), monetary
    (cents). Each scored 1-5 by NTILE over a FULLY tie-broken order
    (metric, custkey) — both engines implement standard SQL NTILE
    (first n%k tiles one row larger), so scores match exactly. The
    output is the segment-level rollup (<=125 rows), not the
    per-customer table.

    Scale note: NTILE over all customers is a global sort; at 100 TB
    the same scores come from a rank join against percentile
    boundaries (value_percentiles' shape) — documented trade at this
    row count."""
    orders = load_table(spark, sf_dir, "orders").select(
        "o_custkey",
        "o_orderdate",
        F.round(F.col("o_totalprice") * 100).cast("long").alias("cents"),
    )
    ref = orders.agg(F.max("o_orderdate").alias("ref_date"))
    per_cust = (
        orders.groupBy("o_custkey")
        .agg(
            F.max("o_orderdate").alias("last_order"),
            F.count(F.lit(1)).alias("frequency"),
            F.sum("cents").alias("monetary_cents"),
        )
        .join(F.broadcast(ref))
        .withColumn(
            "recency_days",
            F.datediff("ref_date", "last_order").cast("long"),
        )
    )
    scored = per_cust.select(
        "o_custkey",
        # low recency = best -> score 5; ntile ascending then invert
        (6 - F.ntile(5).over(
            Window.orderBy("recency_days", "o_custkey")
        )).cast("long").alias("r"),
        F.ntile(5).over(
            Window.orderBy("frequency", "o_custkey")
        ).cast("long").alias("f"),
        F.ntile(5).over(
            Window.orderBy("monetary_cents", "o_custkey")
        ).cast("long").alias("m"),
    )
    return (
        scored.groupBy("r", "f", "m")
        .agg(F.count(F.lit(1)).alias("n_customers"))
        .withColumn(
            "segment",
            F.concat(F.col("r"), F.lit("-"), F.col("f"), F.lit("-"), F.col("m")),
        )
    )


SQL_RFM_SEGMENTS = """
WITH o AS (
  SELECT o_custkey, o_orderdate,
         CAST(round(o_totalprice * 100) AS BIGINT) AS cents
  FROM orders
),
ref AS (SELECT max(o_orderdate) AS ref_date FROM o),
pc AS (
  SELECT o_custkey, max(o_orderdate) AS last_order,
         count(*) AS frequency,
         CAST(sum(cents) AS BIGINT) AS monetary_cents
  FROM o GROUP BY 1
),
sc AS (
  SELECT o_custkey,
         CAST(6 - ntile(5) OVER (ORDER BY
           date_diff('day', last_order, ref_date), o_custkey) AS BIGINT) AS r,
         CAST(ntile(5) OVER (ORDER BY frequency, o_custkey) AS BIGINT) AS f,
         CAST(ntile(5) OVER (ORDER BY monetary_cents, o_custkey) AS BIGINT) AS m
  FROM pc CROSS JOIN ref
)
SELECT r, f, m, count(*) AS n_customers,
       r || '-' || f || '-' || m AS segment
FROM sc GROUP BY 1, 2, 3"""


# --------------------------------------------------------------------------
# window_funcs_suite — the rank-family surface in one pass
# --------------------------------------------------------------------------

def q_window_funcs_suite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The rank-family window surface over URGENT orders, every
    function sharing ONE (partition, order) spec so Catalyst plans a
    single Window node (one sort, no extra exchanges) —
    test_single_window_exec_for_shared_sort's discipline applied to
    the full rank family.

    percent_rank/cume_dist are rank arithmetic over a fully
    tie-broken order — exact-integer divisions, deterministic."""
    w = Window.partitionBy("o_orderpriority").orderBy(
        "o_orderdate", "o_orderkey"
    )
    orders = (
        load_table(spark, sf_dir, "orders")
        .filter(F.col("o_orderpriority") == "1-URGENT")
        .select(
            "o_orderkey",
            "o_orderpriority",
            "o_orderdate",
            F.round(F.col("o_totalprice") * 100).cast("long").alias("cents"),
        )
    )
    return orders.select(
        "o_orderkey",
        F.row_number().over(w).cast("long").alias("rn"),
        F.ntile(4).over(w).cast("long").alias("quartile"),
        F.percent_rank().over(w).alias("pct_rank"),
        F.cume_dist().over(w).alias("cume"),
        F.lag("cents", 1).over(w).alias("prev_cents"),
        F.lead("cents", 1).over(w).alias("next_cents"),
        F.first("cents").over(w).alias("first_cents"),
    )


SQL_WINDOW_FUNCS_SUITE = """
SELECT o_orderkey,
       CAST(row_number() OVER w AS BIGINT) AS rn,
       CAST(ntile(4) OVER w AS BIGINT) AS quartile,
       percent_rank() OVER w AS pct_rank,
       cume_dist() OVER w AS cume,
       lag(CAST(round(o_totalprice * 100) AS BIGINT), 1) OVER w AS prev_cents,
       lead(CAST(round(o_totalprice * 100) AS BIGINT), 1) OVER w AS next_cents,
       first_value(CAST(round(o_totalprice * 100) AS BIGINT)) OVER
         (PARTITION BY o_orderpriority ORDER BY o_orderdate, o_orderkey
          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS first_cents
FROM orders
WHERE o_orderpriority = '1-URGENT'
WINDOW w AS (PARTITION BY o_orderpriority ORDER BY o_orderdate, o_orderkey)"""


# --------------------------------------------------------------------------
# user_set_ops — INTERSECT / EXCEPT algebra
# --------------------------------------------------------------------------

def q_user_set_ops(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Set algebra on behavior cohorts: the INTERSECT / EXCEPT
    surface (DISTINCT semantics) over clicker and purchaser user
    sets, plus the union size — four labeled counts.

    Plan shape: the two distinct user sets build once each (hash
    aggs); intersect/except plan as keyed semi/anti joins, never
    materializing products."""
    ev = load_table(spark, sf_dir, "events")
    clickers = ev.filter(F.col("event_type") == "click").select("user_id").distinct()
    buyers = ev.filter(F.col("event_type") == "purchase").select("user_id").distinct()

    def count1(df, label):
        return df.agg(F.count(F.lit(1)).alias("n_users")).select(
            F.lit(label).alias("cohort"), "n_users"
        )

    out = count1(clickers.intersect(buyers), "click_and_purchase")
    out = out.unionAll(count1(clickers.exceptAll(buyers), "click_no_purchase"))
    out = out.unionAll(count1(buyers.exceptAll(clickers), "purchase_no_click"))
    out = out.unionAll(count1(clickers.union(buyers).distinct(), "either"))
    return out


SQL_USER_SET_OPS = """
WITH c AS (SELECT DISTINCT user_id FROM events WHERE event_type = 'click'),
p AS (SELECT DISTINCT user_id FROM events WHERE event_type = 'purchase')
SELECT 'click_and_purchase' AS cohort,
       (SELECT count(*) FROM (SELECT * FROM c INTERSECT SELECT * FROM p)) AS n_users
UNION ALL
SELECT 'click_no_purchase',
       (SELECT count(*) FROM (SELECT * FROM c EXCEPT SELECT * FROM p))
UNION ALL
SELECT 'purchase_no_click',
       (SELECT count(*) FROM (SELECT * FROM p EXCEPT SELECT * FROM c))
UNION ALL
SELECT 'either',
       (SELECT count(*) FROM (SELECT * FROM c UNION SELECT * FROM p))"""


# --------------------------------------------------------------------------
# attribution_last_touch — as-of attribution of purchases to clicks
# --------------------------------------------------------------------------

def q_attribution_last_touch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Marketing attribution: each purchase is attributed to the
    user's most recent click AT OR BEFORE it (the as-of backward
    join, operators/asof.py — one shuffle on user_id + one sorted
    window over the unioned stream, no range explosion), then rolled
    up by time-to-convert bucket.

    Buckets are integer-microsecond threshold compares (<=1h, <=6h,
    <=24h, >24h, none) — no float time arithmetic anywhere."""
    from wq_data_pipeline_spark.operators.asof import asof_join_backward

    ev = load_table(spark, sf_dir, "events")
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        "user_id", "ts", "event_id"
    )
    clicks = ev.filter(F.col("event_type") == "click").select("user_id", "ts")
    j = asof_join_backward(
        purchases, clicks, on=["user_id"], right_value_cols=(),
    )
    hour_us = 3_600_000_000
    delta = F.unix_micros("ts") - F.unix_micros("matched_ts")
    bucket = (
        F.when(F.col("matched_ts").isNull(), "none")
        .when(delta <= hour_us, "<=1h")
        .when(delta <= 6 * hour_us, "<=6h")
        .when(delta <= 24 * hour_us, "<=24h")
        .otherwise(">24h")
    )
    return (
        j.groupBy(bucket.alias("convert_bucket"))
        .agg(
            F.count(F.lit(1)).alias("n_purchases"),
            F.count_distinct("user_id").alias("n_users"),
        )
    )


SQL_ATTRIBUTION_LAST_TOUCH = """
WITH p AS (
  SELECT user_id, ts, event_id FROM events WHERE event_type = 'purchase'
),
c AS (SELECT user_id, ts FROM events WHERE event_type = 'click'),
j AS (
  SELECT p.user_id, p.ts, c.ts AS matched_ts
  FROM p ASOF LEFT JOIN c ON p.user_id = c.user_id AND p.ts >= c.ts
)
SELECT CASE
         WHEN matched_ts IS NULL THEN 'none'
         WHEN epoch_us(ts) - epoch_us(matched_ts) <= 3600000000 THEN '<=1h'
         WHEN epoch_us(ts) - epoch_us(matched_ts) <= 21600000000 THEN '<=6h'
         WHEN epoch_us(ts) - epoch_us(matched_ts) <= 86400000000 THEN '<=24h'
         ELSE '>24h' END AS convert_bucket,
       count(*) AS n_purchases,
       count(DISTINCT user_id) AS n_users
FROM j GROUP BY 1"""


# --------------------------------------------------------------------------
# khop_reach — bounded BFS from the max-degree seed
# --------------------------------------------------------------------------

def q_khop_reach(spark: SparkSession, sf_dir: str) -> DataFrame:
    """3-hop BFS reachability over the hourly co-occurrence graph
    from a deterministic seed (the max-degree user, min user_id on
    ties): how many users are FIRST reached at each hop.

    The iterative-traversal pattern at scale: per round, the
    frontier joins the pinned edge set (keyed join), new nodes are
    anti-joined against the reached set, and the reached set is
    pinned (operators/pinning.py) so plans stay flat across rounds.
    Rounds are bounded (3), so construction cost is fixed.

    Oracle: a DuckDB RECURSIVE CTE replays the identical BFS with
    min-distance semantics."""

    edges = cooccurrence_edges(spark, sf_dir)
    undir = pin(
        edges.unionAll(edges.select(F.col("ub").alias("ua"), F.col("ua").alias("ub"))),
        eager=True,
    )
    deg = undir.groupBy("ua").agg(F.count(F.lit(1)).alias("degree"))
    mx = deg.agg(F.max("degree").alias("mxd"))
    seed = (
        deg.join(F.broadcast(mx))
        .filter(F.col("degree") == F.col("mxd"))
        .agg(F.min("ua").alias("user_id"))
        .select("user_id", F.lit(0).cast("long").alias("dist"))
    )
    reached = pin(seed, eager=True)
    for hop in range(1, 4):
        frontier = reached.filter(F.col("dist") == hop - 1).select(
            F.col("user_id").alias("ua")
        )
        new = (
            frontier.join(undir, "ua")
            .select(F.col("ub").alias("user_id"))
            .distinct()
            .join(reached.select("user_id"), "user_id", "left_anti")
            .select("user_id", F.lit(hop).cast("long").alias("dist"))
        )
        reached = pin(reached.unionAll(new), eager=True)
    return reached.groupBy(F.col("dist").alias("hop")).agg(
        F.count(F.lit(1)).alias("n_users")
    )


SQL_KHOP_REACH = """
WITH RECURSIVE bu AS (
  SELECT DISTINCT event_type, date_trunc('hour', ts) AS h, user_id
  FROM events
),
sized AS (
  SELECT *, count(*) OVER (PARTITION BY event_type, h) AS _bn FROM bu
),
ok AS (SELECT * FROM sized WHERE _bn <= 20),
edges AS (
  SELECT DISTINCT x.user_id AS ua, y.user_id AS ub
  FROM ok x JOIN ok y
    ON x.event_type = y.event_type AND x.h = y.h AND x.user_id < y.user_id
),
undir AS (
  SELECT ua, ub FROM edges UNION ALL SELECT ub, ua FROM edges
),
deg AS (SELECT ua, count(*) AS degree FROM undir GROUP BY 1),
seed AS (
  SELECT min(ua) AS user_id FROM deg
  WHERE degree = (SELECT max(degree) FROM deg)
),
reach(user_id, d) AS (
  SELECT user_id, 0 FROM seed
  UNION
  SELECT u.ub, reach.d + 1
  FROM reach JOIN undir u ON u.ua = reach.user_id
  WHERE reach.d < 3
)
SELECT CAST(d AS BIGINT) AS hop, count(*) AS n_users
FROM (SELECT user_id, min(d) AS d FROM reach GROUP BY 1)
GROUP BY 1"""


_WIN_US = 2 * _HOUR_US  # purchase attribution window


# --------------------------------------------------------------------------
# binned range join (large x large, no broadcast)
# --------------------------------------------------------------------------


def q_binned_range_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Events falling inside any same-user 2-hour purchase window,
    joined WITHOUT broadcasting either side.

    Every purchase interval [pts, pts + 2h) explodes onto the hourly
    bin grid it covers (3 bins for a 2-hour window); every probe
    event computes its single bin. The join is then a plain shuffled
    equi-join on (user_id, bin) with the residual range predicate
    applied after the match. Each qualifying (event, purchase) pair
    matches exactly once because the event's bin is unique.

    Scale: both sides shuffle-partition on (user_id, bin) — no
    broadcast, no nested-loop, no interval index held in one task.
    Fan-out is bounded by ceil(window / bin) + 1 rows per interval;
    bin width tunes the fan-out vs selectivity trade. This is the
    shape that replaces j3_range_join when intervals stop fitting in
    a broadcast."""
    ev = _events_raw(spark, sf_dir).select(
        "event_id",
        "user_id",
        "event_type",
        F.unix_micros("ts").alias("ts_us"),
        F.round(F.col("value") * 100).cast("long").alias("vc"),
    )
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        F.col("user_id").alias("p_user"),
        F.col("ts_us").alias("pts_us"),
    )
    # interval side: one row per covered hourly bin
    p_binned = purchases.withColumn(
        "bin",
        F.explode(
            F.sequence(
                (F.col("pts_us") / _HOUR_US).cast("long"),
                ((F.col("pts_us") + F.lit(_WIN_US)) / _HOUR_US).cast("long"),
            )
        ),
    )
    # probe side: single bin per event
    e_binned = ev.withColumn("bin", (F.col("ts_us") / _HOUR_US).cast("long"))
    pairs = e_binned.join(
        p_binned,
        (e_binned["user_id"] == p_binned["p_user"]) & (e_binned["bin"] == p_binned["bin"]),
    ).filter(
        (F.col("ts_us") >= F.col("pts_us"))
        & (F.col("ts_us") < F.col("pts_us") + F.lit(_WIN_US))
    )
    return (
        pairs.groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n_pairs"),
            F.countDistinct("event_id").alias("n_events"),
            F.sum("vc").alias("sum_cents"),
        )
        .orderBy("event_type")
    )


SQL_BINNED_RANGE_JOIN = f"""
WITH p AS (
  SELECT user_id AS p_user, epoch_us(ts) AS pts_us
  FROM events WHERE event_type = 'purchase'
)
SELECT e.event_type,
       count(*) AS n_pairs,
       count(DISTINCT e.event_id) AS n_events,
       CAST(sum(CAST(round(e.value * 100) AS BIGINT)) AS BIGINT) AS sum_cents
FROM events e
JOIN p ON e.user_id = p.p_user
      AND epoch_us(e.ts) >= p.pts_us
      AND epoch_us(e.ts) < p.pts_us + {_WIN_US}
GROUP BY 1 ORDER BY 1"""


# --------------------------------------------------------------------------
# Bloom-filter join pruning
# --------------------------------------------------------------------------

_BLOOM_M = 8192  # bits
_BLOOM_K = 3  # hash probes
_VIP_MIN_PRICE = 450000.0


def _bloom_pos(col: F.Column, i: int) -> F.Column:
    """Deterministic Bloom position i: first 8 md5 hex digits of the
    seeded key string, mod m. Mirrors the SQL form exactly."""
    seeded = F.concat(F.lit(f"b{i}:"), col.cast("string"))
    return (F.conv(F.substring(F.md5(seeded), 1, 8), 16, 10).cast("long") % _BLOOM_M)


def q_bloom_prune_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Prune the events fact table against the VIP-customer key set
    with an m-bit Bloom filter before the exact semi-join.

    The dim side (custkeys of orders over {_VIP_MIN_PRICE}) reduces
    to at most m = 8192 bit positions — the filter's size is FIXED
    regardless of how many keys feed it, which is the whole point: at
    100 TB a 10M-key dim side no longer broadcasts as rows, but its
    Bloom image is still 1 KiB. The fact side tests k = 3 md5 probes
    JVM-side (no shuffle, no join) and only surviving rows reach the
    exact join. The entry reports per-event-type totals, bloom
    survivors, and exact matches, so the (deterministic) false-
    positive count is itself part of the oracled result.

    Scale: the positions array is collected (bounded by m, not by key
    count) and shipped as a literal — the standard runtime-filter
    pattern. The exact join on the survivors is a plain shuffled
    semi-join."""
    orders = load_table(spark, sf_dir, "orders")
    vip = (
        orders.filter(F.col("o_totalprice") > _VIP_MIN_PRICE)
        .select(F.col("o_custkey").alias("k"))
        .distinct()
    )
    pos_rows = (
        vip.select(
            F.explode(
                F.array(*[_bloom_pos(F.col("k"), i) for i in range(_BLOOM_K)])
            ).alias("pos")
        )
        .distinct()
        .collect()
    )
    # pack the positions into the actual m-bit bitset: m/64 longs,
    # FIXED size regardless of |vip|. (A literal ARRAY of raw
    # positions was measured at ~17 s/query from codegen alone —
    # thousands of literal nodes in one expression tree; the packed
    # form is 128 literals and three shift-and-mask probes.)
    words = [0] * (_BLOOM_M // 64)
    for r in pos_rows:
        words[r["pos"] // 64] |= 1 << (r["pos"] % 64)
    # two's-complement into signed int64 literals
    words = [w - (1 << 64) if w >= (1 << 63) else w for w in words]
    lit_words = F.array(*[F.lit(w).cast("long") for w in words])
    _signed_masks = [
        m - (1 << 64) if (m := 1 << b) >= (1 << 63) else m for b in range(64)
    ]
    lit_masks = F.array(*[F.lit(m).cast("long") for m in _signed_masks])

    ev = _events_raw(spark, sf_dir)

    def _probe(i: int) -> F.Column:
        pos = _bloom_pos(F.col("user_id"), i)
        word = F.element_at(lit_words, (pos / 64).cast("int") + 1)
        mask = F.element_at(lit_masks, (pos % 64).cast("int") + 1)
        return word.bitwiseAND(mask) != 0

    bloom_pass = _probe(0)
    for i in range(1, _BLOOM_K):
        bloom_pass = bloom_pass & _probe(i)
    flagged = ev.withColumn("_bloom", bloom_pass)
    survivors = flagged.filter(F.col("_bloom"))
    exact = survivors.join(vip, survivors["user_id"] == vip["k"], "left_semi")
    per_type = flagged.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_total"),
        F.sum(F.col("_bloom").cast("long")).alias("n_bloom_pass"),
    )
    exact_counts = exact.groupBy("event_type").agg(F.count(F.lit(1)).alias("n_exact"))
    return (
        per_type.join(exact_counts, "event_type", "left")
        .select(
            "event_type",
            "n_total",
            "n_bloom_pass",
            F.coalesce("n_exact", F.lit(0)).alias("n_exact"),
        )
        .orderBy("event_type")
    )


def _bloom_pos_sql(expr: str, i: int) -> str:
    return f"('0x' || substr(md5('b{i}:' || CAST({expr} AS VARCHAR)), 1, 8))::BIGINT % {_BLOOM_M}"


SQL_BLOOM_PRUNE_JOIN = f"""
WITH vip AS (
  SELECT DISTINCT o_custkey AS k FROM orders WHERE o_totalprice > {_VIP_MIN_PRICE}
),
bits AS (
  SELECT DISTINCT pos FROM (
    SELECT {_bloom_pos_sql("k", 0)} AS pos FROM vip
    UNION ALL SELECT {_bloom_pos_sql("k", 1)} FROM vip
    UNION ALL SELECT {_bloom_pos_sql("k", 2)} FROM vip
  )
),
flagged AS (
  SELECT event_type, user_id,
         ({_bloom_pos_sql("user_id", 0)} IN (SELECT pos FROM bits)
          AND {_bloom_pos_sql("user_id", 1)} IN (SELECT pos FROM bits)
          AND {_bloom_pos_sql("user_id", 2)} IN (SELECT pos FROM bits)) AS bloom_pass
  FROM events
)
SELECT event_type,
       count(*) AS n_total,
       CAST(sum(CAST(bloom_pass AS BIGINT)) AS BIGINT) AS n_bloom_pass,
       CAST(sum(CAST(bloom_pass AND user_id IN (SELECT k FROM vip) AS BIGINT)) AS BIGINT) AS n_exact
FROM flagged
GROUP BY 1 ORDER BY 1"""


# --------------------------------------------------------------------------
# KMV distinct sketch
# --------------------------------------------------------------------------

_KMV_K = 32
_KMV_SPACE = 1 << 52  # 13 md5 hex digits


def q_kmv_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """K-minimum-values distinct-user estimate per event type,
    reported beside the exact count.

    Each distinct (type, user) hashes to a 52-bit value (13 md5 hex
    digits — chosen so (K-1) * |space| stays inside int64); the K-th
    smallest hash h_(K) estimates the distinct count as
    (K-1) * |space| / h_(K) (Bar-Yossef et al. 2002). Everything up
    to the final floor-division is exact BIGINT.

    Scale: the min-K selection is a per-group row_number window over
    the DISTINCT (type, user) pairs — the heavy dedup is a hash
    aggregate with map-side combine; the window then sees at most
    |distinct| rows per group. A mergeable production form would keep
    a bounded K-heap per partition (approx_count_distinct's HLL is
    the built-in alternative); this entry is the exact-arithmetic,
    oracle-portable form of the same sketch."""
    from pyspark.sql import Window

    ev = _events_raw(spark, sf_dir).select("event_type", "user_id").distinct()
    hashed = ev.withColumn(
        "h",
        F.conv(F.substring(F.md5(F.col("user_id").cast("string")), 1, 13), 16, 10).cast(
            "long"
        ),
    )
    w = Window.partitionBy("event_type").orderBy("h")
    ranked = hashed.withColumn("rn", F.row_number().over(w))
    return (
        ranked.groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n_exact"),
            F.max(F.when(F.col("rn") == _KMV_K, F.col("h"))).alias("kth_hash"),
        )
        .select(
            "event_type",
            "n_exact",
            "kth_hash",
            F.when(
                F.col("kth_hash").isNotNull(),
                F.expr(f"CAST({_KMV_K - 1} * {_KMV_SPACE} DIV kth_hash AS BIGINT)"),
            )
            .otherwise(F.col("n_exact"))
            .alias("est_kmv"),
        )
        .orderBy("event_type")
    )


SQL_KMV_DISTINCT = f"""
WITH du AS (SELECT DISTINCT event_type, user_id FROM events),
h AS (
  SELECT event_type,
         ('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 13))::BIGINT AS h,
         row_number() OVER (PARTITION BY event_type ORDER BY
           ('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 13))::BIGINT) AS rn
  FROM du
)
SELECT event_type,
       count(*) AS n_exact,
       max(CASE WHEN rn = {_KMV_K} THEN h END) AS kth_hash,
       CASE WHEN max(CASE WHEN rn = {_KMV_K} THEN h END) IS NOT NULL
            THEN CAST({_KMV_K - 1} * {_KMV_SPACE} // max(CASE WHEN rn = {_KMV_K} THEN h END) AS BIGINT)
            ELSE count(*) END AS est_kmv
FROM h GROUP BY 1 ORDER BY 1"""


# --------------------------------------------------------------------------
# Markov transition counts
# --------------------------------------------------------------------------


def q_event_transitions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-order Markov transitions: for each user's event stream
    in (ts, event_id) order, count (previous type -> type) moves; a
    session start transitions from '_start'. Probabilities are exact
    integer micros of the per-source-state total.

    Scale: one lag window per user partition + one hash agg; the
    25-state output is driver-tiny but the windows scale with
    users."""
    ev = _events(spark, sf_dir)
    w = Window.partitionBy("user_id").orderBy("ts_us", "event_id")
    t = ev.withColumn(
        "prev", F.coalesce(F.lag("event_type").over(w), F.lit("_start"))
    )
    counts = t.groupBy("prev", "event_type").agg(F.count(F.lit(1)).alias("n"))
    tot = Window.partitionBy("prev")
    return (
        counts.withColumn("state_total", F.sum("n").over(tot))
        .select(
            "prev",
            "event_type",
            "n",
            F.expr("(1000000 * n) DIV state_total").alias("p_micro"),
        )
        .orderBy("prev", "event_type")
    )


SQL_EVENT_TRANSITIONS = """
WITH t AS (
  SELECT coalesce(lag(event_type) OVER (PARTITION BY user_id
                                        ORDER BY epoch_us(ts), event_id),
                  '_start') AS prev,
         event_type
  FROM events
),
c AS (SELECT prev, event_type, count(*) AS n FROM t GROUP BY 1, 2)
SELECT prev, event_type, n,
       (1000000 * n) // CAST(sum(n) OVER (PARTITION BY prev) AS BIGINT) AS p_micro
FROM c
ORDER BY 1, 2"""


_CMS_D = 4
_CMS_W = 256
_TOPK = 10


def _cms_cell(col: F.Column, row: int) -> F.Column:
    seeded = F.concat(F.lit(f"cms{row}:"), col.cast("string"))
    return F.conv(F.substring(F.md5(seeded), 1, 8), 16, 10).cast("long") % _CMS_W


def q_cms_user_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count-min sketch of per-user event counts: build the d x w
    counter table (one hash agg per row — partial-aggregable, so the
    sketch merges across partitions/executors for free), then report
    the 10 heaviest users' exact counts beside their CMS estimate
    (min over the d counters they hash to). est >= exact always; the
    overcount IS the oracled signal.

    Scale: the sketch is d map-side-combinable aggs to d*w rows
    total; the top-k exact pass is one hash agg + rank. The point
    lookups broadcast-join the d*w-row sketch."""
    ev = _events(spark, sf_dir)
    cells = None
    for r in range(_CMS_D):
        c = ev.groupBy(
            F.lit(r).alias("row"), _cms_cell(F.col("user_id"), r).alias("cell")
        ).agg(F.count(F.lit(1)).alias("cnt"))
        cells = c if cells is None else cells.unionByName(c)
    exact = ev.groupBy("user_id").agg(F.count(F.lit(1)).alias("n_exact"))
    top = exact.withColumn(
        "rk",
        F.row_number().over(
            Window.orderBy(F.col("n_exact").desc(), F.col("user_id"))
        ),
    ).filter(F.col("rk") <= _TOPK)
    probes = top.select(
        "user_id",
        "n_exact",
        "rk",
        *[
            _cms_cell(F.col("user_id"), r).alias(f"c{r}")
            for r in range(_CMS_D)
        ],
    )
    for r in range(_CMS_D):
        s = cells.filter(F.col("row") == r).select(
            F.col("cell").alias(f"c{r}"), F.col("cnt").alias(f"e{r}")
        )
        probes = probes.join(F.broadcast(s), f"c{r}")
    est = F.least(*[F.col(f"e{r}") for r in range(_CMS_D)])
    return probes.select(
        "rk",
        "user_id",
        "n_exact",
        est.alias("n_cms"),
        (est - F.col("n_exact")).alias("overcount"),
    ).orderBy("rk")


def _cms_cell_sql(expr: str, row: int) -> str:
    return (
        f"('0x' || substr(md5('cms{row}:' || CAST({expr} AS VARCHAR)), 1, 8))"
        f"::BIGINT % {_CMS_W}"
    )


SQL_CMS_USER_COUNTS = f"""
WITH cells AS (
  {" UNION ALL ".join(
      f"SELECT {r} AS row, {_cms_cell_sql('user_id', r)} AS cell, count(*) AS cnt "
      f"FROM events GROUP BY 2"
      for r in range(_CMS_D)
  )}
),
exact AS (SELECT user_id, count(*) AS n_exact FROM events GROUP BY 1),
top AS (
  SELECT *, row_number() OVER (ORDER BY n_exact DESC, user_id) AS rk
  FROM exact QUALIFY rk <= {_TOPK}
),
est AS (
  SELECT t.rk, t.user_id, t.n_exact,
         least({", ".join(
             f"(SELECT cnt FROM cells WHERE row = {r} "
             f"AND cell = {_cms_cell_sql('t.user_id', r)})"
             for r in range(_CMS_D)
         )}) AS n_cms
  FROM top t
)
SELECT rk, user_id, n_exact, CAST(n_cms AS BIGINT) AS n_cms,
       CAST(n_cms - n_exact AS BIGINT) AS overcount
FROM est ORDER BY rk"""


_PATH_LEN = 4
_PATH_TOPK = 20


def q_top_paths(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top {_PATH_TOPK} per-(user, day) event journeys (first
    {_PATH_LEN} event types in time order, '>'-joined).

    Scale: the journey build is one hash aggregate per (user, day)
    whose state is that day's events for one user — bounded by
    per-user daily activity, not by corpus size; the final top-k is
    a rank over journey counts."""
    from pyspark.sql import Window

    ev = _events(spark, sf_dir)
    j = (
        ev.groupBy(
            "user_id", (F.col("ts_us") / _DAY_US).cast("long").alias("day")
        )
        .agg(
            F.collect_list(
                F.struct(F.col("ts_us"), F.col("event_id"), F.col("event_type"))
            ).alias("evs")
        )
        .select(
            F.concat_ws(
                ">",
                F.transform(
                    F.slice(F.array_sort("evs"), 1, _PATH_LEN),
                    lambda x: x.getField("event_type"),
                ),
            ).alias("journey")
        )
    )
    counts = j.groupBy("journey").agg(F.count(F.lit(1)).alias("n"))
    w = Window.orderBy(F.col("n").desc(), F.col("journey"))
    return (
        counts.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= _PATH_TOPK)
        .select("rk", "journey", "n")
        .orderBy("rk")
    )


SQL_TOP_PATHS = f"""
WITH j AS (
  SELECT array_to_string(
           list_transform(
             list_sort(list({{'ts_us': epoch_us(ts), 'event_id': event_id,
                              't': event_type}}))[1:{_PATH_LEN}],
             x -> x.t), '>') AS journey
  FROM events
  GROUP BY user_id, epoch_us(ts) // {_DAY_US}
),
c AS (SELECT journey, count(*) AS n FROM j GROUP BY 1)
SELECT row_number() OVER (ORDER BY n DESC, journey) AS rk, journey, n
FROM c
QUALIFY rk <= {_PATH_TOPK}
ORDER BY rk"""


# --- key_skew_profile -------------------------------------------------------


def q_key_skew_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Key-skew diagnosis per event_type over events.user_id — the
    measurement that decides the engine's own shuffle strategy: a
    skew_ratio (hottest key count / mean key count) near 1 means plain
    hash partitioning is fine; large ratios or a fat n_hot_keys tail
    (keys strictly above 2× the mean) call for salting
    (``salted_user_stats``) or AQE skew-join handling. top_user_id
    (ties to the smallest id) names the key to salt first.

    Integer-exact: the hot-key predicate compares cnt·n_keys >
    2·n_rows in BIGINT (no division); skew_ratio is the single
    double division, rounded 6dp in both dialects.

    Scale: ONE per-key count aggregation (the same shuffle the
    downstream job would pay anyway) feeds everything — group stats,
    top key, and the hot-key predicate all come from one window pass
    over the counts (two window specs, same event_type partitioning →
    one exchange) plus a final already-co-partitioned rollup. The
    naive 3-branch form (separate agg/top/hot consumers of the
    counts) re-shuffles the per-key counts three times; at 100 TB
    that triples the dominant stage, so this entry pins the
    single-pass shape (E budget 3 in test_plan_budget)."""
    ev = load_table(spark, sf_dir, "events")
    c = ev.groupBy("event_type", "user_id").agg(
        F.count(F.lit(1)).alias("cnt")
    )
    wg = Window.partitionBy("event_type")
    wr = wg.orderBy(F.desc("cnt"), F.asc("user_id"))
    cw = c.select(
        "event_type",
        "user_id",
        "cnt",
        F.count(F.lit(1)).over(wg).alias("n_keys"),
        F.sum("cnt").over(wg).alias("n_rows"),
        F.row_number().over(wr).alias("_rn"),
    )
    return (
        cw.groupBy("event_type")
        .agg(
            F.max("n_keys").alias("n_keys"),
            F.max("n_rows").alias("n_rows"),
            F.max("cnt").alias("max_rows"),
            F.min(F.when(F.col("_rn") == 1, F.col("user_id"))).alias(
                "top_user_id"
            ),
            F.sum(
                (F.col("cnt") * F.col("n_keys") > 2 * F.col("n_rows")).cast(
                    "long"
                )
            ).alias("n_hot_keys"),
        )
        .select(
            "event_type",
            "n_keys",
            "n_rows",
            "max_rows",
            "top_user_id",
            F.round(
                (F.col("max_rows") * F.col("n_keys")).cast("double")
                / F.col("n_rows").cast("double"),
                6,
            ).alias("skew_ratio"),
            "n_hot_keys",
        )
        .orderBy("event_type")
    )


SQL_KEY_SKEW_PROFILE = """
WITH c AS (
  SELECT event_type, user_id, count(*) AS cnt
  FROM events GROUP BY 1, 2
),
agg AS (
  SELECT event_type,
         count(*) AS n_keys,
         CAST(sum(cnt) AS BIGINT) AS n_rows,
         max(cnt) AS max_rows
  FROM c GROUP BY 1
),
top AS (
  SELECT event_type, user_id AS top_user_id FROM (
    SELECT event_type, user_id,
           row_number() OVER (PARTITION BY event_type
                              ORDER BY cnt DESC, user_id ASC) AS rn
    FROM c
  ) WHERE rn = 1
),
hot AS (
  SELECT c.event_type, count(*) AS n_hot_keys
  FROM c JOIN agg USING (event_type)
  WHERE c.cnt * agg.n_keys > 2 * agg.n_rows
  GROUP BY 1
)
SELECT agg.event_type, n_keys, n_rows, max_rows, top_user_id,
       round(CAST(max_rows * n_keys AS DOUBLE) / CAST(n_rows AS DOUBLE), 6)
         AS skew_ratio,
       CAST(coalesce(n_hot_keys, 0) AS BIGINT) AS n_hot_keys
FROM agg JOIN top USING (event_type) LEFT JOIN hot USING (event_type)
ORDER BY event_type"""


# --- hll_distinct -----------------------------------------------------------

_HLL_P = 8  # register-index bits
_HLL_M = 1 << _HLL_P  # 256 registers
_HLL_W = 60 - _HLL_P  # rank window: remaining hash bits (52)
# bias constant for m >= 128 (Flajolet et al. 2007 Fig. 3). ONE python
# float, interpolated into BOTH dialects so they divide by the exact
# same double.
_HLL_ALPHA = 0.7213 / (1.0 + 1.079 / _HLL_M)


def _hll_rho(w: "F.Column") -> "F.Column":
    """rho(w) = leading zeros of w in a _HLL_W-bit window + 1 =
    _HLL_W - floor(log2(w)) for w > 0, else _HLL_W + 1. floor(log2)
    is a descending power-of-two comparison chain — pure integer
    compares, bit-identical in any engine (float log2 would round at
    2^53)."""
    flog = F.when(w >= F.lit(1 << (_HLL_W - 1)), F.lit(_HLL_W - 1))
    for b in range(_HLL_W - 2, -1, -1):
        flog = flog.when(w >= F.lit(1 << b), F.lit(b))
    return F.when(w == 0, F.lit(_HLL_W + 1)).otherwise(F.lit(_HLL_W) - flog)


def _sql_hll_rho(w: str) -> str:
    chain = " ".join(
        f"WHEN {w} >= {1 << b} THEN {b}"
        for b in range(_HLL_W - 1, -1, -1)
    )
    return (
        f"CASE WHEN {w} = 0 THEN {_HLL_W + 1} "
        f"ELSE {_HLL_W} - (CASE {chain} END) END"
    )


def q_hll_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-event-type HyperLogLog distinct-user estimate: 256
    registers of max leading-zero ranks over the 60-bit md5 hash (low
    8 bits pick the register, the remaining 52 feed the rank), raw
    estimate alpha·m²/Z with the standard small-range linear-counting
    correction (est <= 2.5m and empty registers -> m·ln(m/V)).

    Output: (event_type, n_rows, n_zero_registers, est_distinct).
    The accuracy pin (vs exact distinct, both regimes: linear-count
    at sf0.01's ~150 users/type and raw-HLL past 2.5m) is
    ``test_hll_accuracy_band`` — the entry itself never computes
    the exact count, because never needing to is the point of the
    sketch.

    Exactness discipline: Z is accumulated as a BIGINT sum of
    2^(_HLL_W+1 - M) (53-bit-safe: <= m·2^52 < 2^61) — summing the
    dyadic doubles directly would be float-order-sensitive past 53
    bits of spread; the scale divides back out in the one final
    double division. NULL user_ids are excluded on both sides (no
    identity to count).

    100-TB shape: scan -> per-(type, register) MAX agg — map-side
    combinable, idempotent, and mergeable: the shuffle carries at
    most n_types × 256 rows no matter the corpus; persist the
    register table per day/partition and max-merge to union sketches
    without rescanning."""
    ev = (
        load_table(spark, sf_dir, "events")
        .filter(F.col("user_id").isNotNull())
        .select("event_type", "user_id")
    )
    h = gram_hash(F.col("user_id").cast("string"))
    rows = ev.select(
        "event_type",
        F.pmod(h, F.lit(_HLL_M)).alias("j"),
        F.shiftright(h, _HLL_P).alias("w"),
    )
    regs = rows.groupBy("event_type", "j").agg(
        F.max(_hll_rho(F.col("w"))).alias("m_j"),
        F.count(F.lit(1)).cast("long").alias("c"),
    )
    cap = _HLL_W + 1
    term = F.pow(F.lit(2.0), F.lit(cap) - F.col("m_j")).cast("long")
    agg = regs.groupBy("event_type").agg(
        F.sum("c").alias("n_rows"),
        F.count(F.lit(1)).cast("long").alias("n_obs"),
        F.sum(term).alias("s_obs"),
    )
    m = F.lit(_HLL_M)
    v = (m - F.col("n_obs")).cast("long")
    s_int = F.col("s_obs") + v * F.lit(1 << cap).cast("long")
    est_raw = (
        F.lit(_HLL_ALPHA)
        * F.lit(float(_HLL_M * _HLL_M))
        * F.lit(float(1 << cap))
        / s_int.cast("double")
    )
    est = F.when(
        (est_raw <= F.lit(2.5 * _HLL_M)) & (v > 0),
        F.lit(float(_HLL_M)) * F.log(m.cast("double") / v.cast("double")),
    ).otherwise(est_raw)
    return agg.select(
        "event_type",
        "n_rows",
        v.alias("n_zero_registers"),
        F.round(est, 6).alias("est_distinct"),
    ).orderBy("event_type")


SQL_HLL_DISTINCT = f"""
WITH e AS (
  SELECT event_type,
         ('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 15))::BIGINT AS h
  FROM events WHERE user_id IS NOT NULL
),
r AS (
  SELECT event_type, h % {_HLL_M} AS j, h >> {_HLL_P} AS w FROM e
),
regs AS (
  SELECT event_type, j, max({_sql_hll_rho("w")}) AS m_j,
         CAST(count(*) AS BIGINT) AS c
  FROM r GROUP BY event_type, j
),
agg AS (
  SELECT event_type,
         CAST(sum(c) AS BIGINT) AS n_rows,
         CAST(count(*) AS BIGINT) AS n_obs,
         CAST(sum(CAST(power(2.0, {_HLL_W + 1} - m_j) AS BIGINT)) AS BIGINT) AS s_obs
  FROM regs GROUP BY event_type
)
SELECT event_type, n_rows,
       CAST({_HLL_M} - n_obs AS BIGINT) AS n_zero_registers,
       round(CASE WHEN (CAST({_HLL_ALPHA!r} AS DOUBLE) * CAST({float(_HLL_M * _HLL_M)!r} AS DOUBLE) * CAST({float(1 << (_HLL_W + 1))!r} AS DOUBLE)
                        / CAST(s_obs + ({_HLL_M} - n_obs) * {1 << (_HLL_W + 1)} AS DOUBLE)) <= CAST({2.5 * _HLL_M!r} AS DOUBLE)
                   AND ({_HLL_M} - n_obs) > 0
                  THEN CAST({float(_HLL_M)!r} AS DOUBLE) * ln(CAST({_HLL_M} AS DOUBLE) / CAST({_HLL_M} - n_obs AS DOUBLE))
                  ELSE CAST({_HLL_ALPHA!r} AS DOUBLE) * CAST({float(_HLL_M * _HLL_M)!r} AS DOUBLE) * CAST({float(1 << (_HLL_W + 1))!r} AS DOUBLE)
                       / CAST(s_obs + ({_HLL_M} - n_obs) * {1 << (_HLL_W + 1)} AS DOUBLE)
             END, 6) AS est_distinct
FROM agg ORDER BY event_type"""


ENTRIES = {
    "attribution_last_touch": (q_attribution_last_touch, SQL_ATTRIBUTION_LAST_TOUCH),
    "binned_range_join": (q_binned_range_join, SQL_BINNED_RANGE_JOIN),
    "bloom_prune_join": (q_bloom_prune_join, SQL_BLOOM_PRUNE_JOIN),
    "cms_user_counts": (q_cms_user_counts, SQL_CMS_USER_COUNTS),
    "dq_checks": (q_dq_checks, SQL_DQ_CHECKS),
    "event_funnel": (q_event_funnel, SQL_EVENT_FUNNEL),
    "event_transitions": (q_event_transitions, SQL_EVENT_TRANSITIONS),
    "fk_orphans": (q_fk_orphans, SQL_FK_ORPHANS),
    "heavy_hitters": (q_heavy_hitters, SQL_HEAVY),
    "hll_distinct": (q_hll_distinct, SQL_HLL_DISTINCT),
    "key_skew_profile": (q_key_skew_profile, SQL_KEY_SKEW_PROFILE),
    "khop_reach": (q_khop_reach, SQL_KHOP_REACH),
    "kmv_distinct": (q_kmv_distinct, SQL_KMV_DISTINCT),
    "market_basket": (q_market_basket, SQL_MARKET_BASKET),
    "pagerank_purchases": (q_pagerank_purchases, SQL_PAGERANK_PURCHASES),
    "props_json": (q_props_json, SQL_PROPS_JSON),
    "rel_anti_join": (q_anti_join, SQL_ANTI),
    "rel_corr_subquery": (q_corr_scalar_subquery, SQL_CORR),
    "rel_cube": (q_rel_cube, SQL_REL_CUBE),
    "rel_distinct_agg": (q_distinct_agg, SQL_DISTINCT),
    "rel_rollup": (q_rollup_revenue, SQL_ROLLUP),
    "rel_semi_join": (q_semi_join, SQL_SEMI),
    "rel_union_having": (q_union_having, SQL_UNION_HAVING),
    "retention_cohorts": (q_retention_cohorts, SQL_RETENTION_COHORTS),
    "rfm_segments": (q_rfm_segments, SQL_RFM_SEGMENTS),
    "salted_join": (q_salted_join, SQL_SALTED_JOIN),
    "salted_user_stats": (q_salted_user_stats, SQL_SALTED_USER_STATS),
    "sketch_profile": (q_sketch_profile, None),
    "sketch_profile_exact": (q_sketch_profile_exact, SQL_SKETCH_EXACT),
    "sql_surface_q3": (q_sql_surface_q3, _Q3_SQL),
    "table_profile": (q_table_profile, SQL_PROFILE),
    "top_paths": (q_top_paths, SQL_TOP_PATHS),
    "tpch_q1": (q_tpch_q1, SQL_TPCH_Q1),
    "tpch_q10_returns": (q_tpch_q10_returns, SQL_TPCH_Q10_RETURNS),
    "tpch_q11_value": (q_tpch_q11_value, SQL_TPCH_Q11_VALUE),
    "tpch_q12_latemode": (q_tpch_q12_latemode, SQL_TPCH_Q12_LATEMODE),
    "tpch_q13_custdist": (q_tpch_q13_custdist, SQL_TPCH_Q13_CUSTDIST),
    "tpch_q14_promo": (q_tpch_q14_promo, SQL_TPCH_Q14),
    "tpch_q15_topsupp": (q_tpch_q15_topsupp, SQL_TPCH_Q15_TOPSUPP),
    "tpch_q16_suppcnt": (q_tpch_q16_suppcnt, SQL_TPCH_Q16_SUPPCNT),
    "tpch_q17_smallqty": (q_tpch_q17_smallqty, SQL_TPCH_Q17_SMALLQTY),
    "tpch_q18_large": (q_tpch_q18_large, SQL_TPCH_Q18_LARGE),
    "tpch_q19_brand": (q_tpch_q19_brand, SQL_TPCH_Q19_BRAND),
    "tpch_q20_potential": (q_tpch_q20_potential, SQL_TPCH_Q20_POTENTIAL),
    "tpch_q21_waiting": (q_tpch_q21_waiting, SQL_TPCH_Q21_WAITING),
    "tpch_q22_idle": (q_tpch_q22_idle, SQL_TPCH_Q22_IDLE),
    "tpch_q2_mincost": (q_tpch_q2_mincost, SQL_TPCH_Q2_MINCOST),
    "tpch_q3": (q_tpch_q3, SQL_TPCH_Q3),
    "tpch_q4_latesemi": (q_tpch_q4_latesemi, SQL_TPCH_Q4_LATESEMI),
    "tpch_q5": (q_tpch_q5, SQL_TPCH_Q5),
    "tpch_q6": (q_tpch_q6, SQL_TPCH_Q6),
    "tpch_q7_volume": (q_tpch_q7_volume, SQL_TPCH_Q7_VOLUME),
    "tpch_q8_share": (q_tpch_q8_share, SQL_TPCH_Q8_SHARE),
    "tpch_q9_profit": (q_tpch_q9_profit, SQL_TPCH_Q9_PROFIT),
    "triangle_counts": (q_triangle_counts, SQL_TRIANGLE_COUNTS),
    "user_set_ops": (q_user_set_ops, SQL_USER_SET_OPS),
    "weighted_sample": (q_weighted_sample, SQL_WEIGHTED_SAMPLE),
    "window_funcs_suite": (q_window_funcs_suite, SQL_WINDOW_FUNCS_SUITE),
}
