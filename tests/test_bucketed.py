"""Bucketed layout: the co-located join and agg must plan with ZERO
shuffle exchanges — the write-time shuffle replaces every read-time
one (sources/bucketed.py)."""

from __future__ import annotations

import pytest
from test_plan_budget import _count_op

from wq_data_pipeline_spark.sources.bucketed import (
    cobucketed_join,
    read_bucketed,
    write_bucketed,
)
from wq_data_pipeline_spark.sources.testdata import load_table

@pytest.fixture(scope="module")
def bucketed_tables(spark, sf_dir, tmp_path_factory):
    base = tmp_path_factory.mktemp("bucketed")
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_quantity", "l_extendedprice"
    )
    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_totalprice"
    ).withColumnRenamed("o_orderkey", "l_orderkey")
    write_bucketed(li, "t_li_bucketed", ["l_orderkey"], 8, str(base / "li"))
    write_bucketed(orders, "t_ord_bucketed", ["l_orderkey"], 8, str(base / "ord"))
    yield "t_li_bucketed", "t_ord_bucketed"
    spark.sql("DROP TABLE IF EXISTS t_li_bucketed")
    spark.sql("DROP TABLE IF EXISTS t_ord_bucketed")


def test_cobucketed_join_no_shuffle(spark, bucketed_tables):
    lt, rt = bucketed_tables
    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        j = cobucketed_join(spark, lt, rt, ["l_orderkey"])
        plan = j._jdf.queryExecution().executedPlan().toString()
        assert "SortMergeJoin" in plan or "ShuffledHashJoin" in plan
        assert _count_op(plan, "Exchange") == 0, plan
        assert j.count() > 0
        # with one file per bucket AND the legacy sorted-scan conf,
        # the sortBy metadata also removes the merge-join Sorts
        # (sorted bucketed scan is opt-in since SPARK-24528)
        spark.conf.set("spark.sql.legacy.bucketedTableScan.outputOrdering", "true")
        try:
            j2 = cobucketed_join(spark, lt, rt, ["l_orderkey"])
            plan2 = j2._jdf.queryExecution().executedPlan().toString()
            assert _count_op(plan2, "Exchange") == 0, plan2
            assert _count_op(plan2, "Sort") == 0, plan2
        finally:
            spark.conf.set(
                "spark.sql.legacy.bucketedTableScan.outputOrdering", "false"
            )
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)


def test_bucketed_agg_no_shuffle(spark, bucketed_tables):
    from pyspark.sql import functions as F

    lt, _ = bucketed_tables
    agg = (
        read_bucketed(spark, lt)
        .groupBy("l_orderkey")
        .agg(F.sum("l_quantity").alias("q"))
    )
    plan = agg._jdf.queryExecution().executedPlan().toString()
    assert _count_op(plan, "Exchange") == 0, plan
    assert agg.count() > 0


def test_bucket_pruning_on_key_filter(spark, bucketed_tables):
    """An equality filter on the bucket column must prune the scan to
    a single bucket (SelectedBucketsCount: 1 out of 8)."""
    lt, _ = bucketed_tables
    some_key = read_bucketed(spark, lt).select("l_orderkey").first()[0]
    # autoBucketedScan would drop the bucketed layout for a bare
    # filter+count (no join/agg to exploit it) and with it the
    # pruning; disable it to assert the pruning path itself
    spark.conf.set("spark.sql.sources.bucketing.autoBucketedScan.enabled", "false")
    try:
        df = read_bucketed(spark, lt).filter(f"l_orderkey = {some_key}")
        plan = df._jdf.queryExecution().executedPlan().toString()
        assert "SelectedBucketsCount: 1 out of 8" in plan, plan
        assert df.count() > 0
    finally:
        spark.conf.set(
            "spark.sql.sources.bucketing.autoBucketedScan.enabled", "true"
        )


def test_bucketed_matches_plain_join(spark, sf_dir, bucketed_tables):
    lt, rt = bucketed_tables
    j = cobucketed_join(spark, lt, rt, ["l_orderkey"])
    li = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders")
    plain = li.join(orders, li["l_orderkey"] == orders["o_orderkey"])
    assert j.count() == plain.count()
