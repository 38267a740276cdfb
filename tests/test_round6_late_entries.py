"""Unit-level invariants for the late-r6 operators, independent of
the DuckDB oracle mirror (tests/test_oracle.py covers those): the dq
constraint algebra on constructed frames, EWMA's exact-weight
truncation, and the BFS frontier discipline on a hand-built graph.
"""

from __future__ import annotations

from pyspark.sql import Row, functions as F

from wq_data_pipeline_spark.operators import dq


def test_dq_suite_counts_violations(spark):
    df = spark.createDataFrame(
        [
            Row(id=1, v=5.0, cat="a"),
            Row(id=2, v=-1.0, cat="b"),
            Row(id=None, v=None, cat="z"),
            Row(id=4, v=150.0, cat="a"),
        ]
    )
    out = dq.run_suite(
        df,
        "t",
        [
            dq.not_null("id"),
            dq.in_range("v", 0.0, 100.0),
            dq.in_set("cat", ("a", "b")),
            dq.non_negative("v"),
        ],
    )
    got = {r["check_name"]: r for r in out.collect()}
    assert got["not_null(id)"]["n_violations"] == 1
    # -1 and 150 break the range; NULL passes (range is null-tolerant)
    assert got["range(v)"]["n_violations"] == 2
    assert got["in_set(cat)"]["n_violations"] == 1
    assert got["non_negative(v)"]["n_violations"] == 1
    assert all(r["n_rows"] == 4 for r in got.values())
    assert not got["range(v)"]["passed"]


def test_dq_uniqueness_counts_all_rows_of_dup_keys(spark):
    df = spark.createDataFrame(
        [Row(k=1), Row(k=1), Row(k=1), Row(k=2), Row(k=3)]
    )
    row = dq.uniqueness(df, "t", ["k"]).collect()[0]
    # all three rows of the duplicated key count, not just the extras
    assert row["n_violations"] == 3
    assert row["n_rows"] == 5
    assert not row["passed"]
    clean = dq.uniqueness(df.filter("k > 1"), "t", ["k"]).collect()[0]
    assert clean["n_violations"] == 0 and clean["passed"]


def test_ewma_weights_are_exact_and_normalized():
    from wq_data_pipeline_spark.plans.qc import _EWMA_NORM, _EWMA_TAPS

    # the truncated mass is exactly 2 - 2^-(taps-1); repr round-trips
    assert float(_EWMA_NORM) == 2.0 - 0.5 ** (_EWMA_TAPS - 1)
    # every tap weight is a power of two -> exact in binary floating
    # point, so products are exact scalings
    for j in range(_EWMA_TAPS):
        w = 0.5**j
        assert w == float(repr(w))


def test_khop_reach_matches_hand_bfs(spark, sf_dir):
    """Cross-check the DataFrame BFS against a driver-side BFS over
    the same (collected) edge set — pins the frontier/anti-join
    logic, not just the oracle SQL."""
    from wq_data_pipeline_spark.plans.relational import cooccurrence_edges
    from wq_data_pipeline_spark.plans.relational import q_khop_reach

    edges = cooccurrence_edges(spark, sf_dir).collect()
    adj: dict[int, set[int]] = {}
    for r in edges:
        adj.setdefault(r["ua"], set()).add(r["ub"])
        adj.setdefault(r["ub"], set()).add(r["ua"])
    deg = {u: len(vs) for u, vs in adj.items()}
    mx = max(deg.values())
    seed = min(u for u, d in deg.items() if d == mx)
    dist = {seed: 0}
    frontier = [seed]
    for hop in (1, 2, 3):
        nxt = []
        for u in frontier:
            for v in adj.get(u, ()):
                if v not in dist:
                    dist[v] = hop
                    nxt.append(v)
        frontier = nxt
    expect = {}
    for d in dist.values():
        expect[d] = expect.get(d, 0) + 1
    got = {
        r["hop"]: r["n_users"] for r in q_khop_reach(spark, sf_dir).collect()
    }
    assert got == expect


def test_market_basket_counts_dup_part_once_per_order(spark, sf_dir):
    """A part on two lineitems of one order must contribute one
    basket membership (DISTINCT before the self-join)."""
    from wq_data_pipeline_spark.plans.relational import q_market_basket
    from wq_data_pipeline_spark.sources.testdata import load_table

    out = q_market_basket(spark, sf_dir)
    # c_ab can never exceed min(c_a, c_b): pair co-occurrence is
    # bounded by each item's basket count — violated if dup lineitems
    # double-counted
    bad = out.filter(
        (F.col("c_ab") > F.col("c_a")) | (F.col("c_ab") > F.col("c_b"))
    ).count()
    assert bad == 0
    # and every support is consistent with its floor-div definition
    n_orders = (
        load_table(spark, sf_dir, "lineitem")
        .select("l_orderkey")
        .distinct()
        .count()
    )
    chk = out.withColumn(
        "_exp", (F.lit(1_000_000) * F.col("c_ab")) / F.lit(n_orders)
    ).filter(F.floor("_exp") != F.col("support_micro"))
    assert chk.count() == 0
