"""Iterative graph operators: the driver finish below the
``_DRIVER_FINISH_ROWS`` gate and the distributed rounds above it.

Tests force the gate both ways by monkeypatching the constant: 0 sends
every graph down the distributed large-star/small-star path, the
default keeps the test graphs on the driver.
"""

from __future__ import annotations

import random

import pytest

from wq_data_pipeline_spark.operators import dedup as DD
from wq_data_pipeline_spark.operators import pinning


def _union_find_labels(edges: list[tuple[int, int]]) -> dict[int, int]:
    """Reference: component minimum per node, by plain union-find."""
    parent: dict[int, int] = {}

    def find(x: int) -> int:
        while parent.setdefault(x, x) != x:
            x = parent[x]
        return x

    for a, b in edges:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    return {x: find(x) for x in parent}


def _shuffled_chain(n: int) -> list[tuple[int, int]]:
    perm = list(range(n))
    random.Random(7).shuffle(perm)
    return list(zip(perm, perm[1:]))


GRAPHS = {
    # a path of diameter 999 whose ids are shuffled: min-label
    # propagation with pointer jumping left 939 nodes unconverged
    # after its 20-step cap and returned them anyway
    "chain_1000": (1000, _shuffled_chain(1000)),
    "two_nodes": (2, [(1, 0)]),
    "star": (9, [(4, i) for i in range(9) if i != 4]),
    "empty": (3, []),
}


def _components(spark, n: int, edges: list[tuple[int, int]]) -> dict[int, int]:
    nodes = spark.createDataFrame([(i,) for i in range(n)], "id long")
    e = spark.createDataFrame(edges, "src long, dst long")
    return {r.id: r.cluster_id for r in DD.connected_components(nodes, e).collect()}


@pytest.mark.parametrize("gate", ["driver", "distributed"])
@pytest.mark.parametrize("graph", sorted(GRAPHS))
def test_connected_components_match_union_find(spark, monkeypatch, graph, gate):
    if gate == "distributed":
        monkeypatch.setattr(pinning, "_DRIVER_FINISH_ROWS", 0)
    n, edges = GRAPHS[graph]
    ref = _union_find_labels(edges)
    got = _components(spark, n, edges)
    wrong = [i for i in range(n) if got[i] != ref.get(i, i)]
    assert not wrong, f"{len(wrong)}/{n} nodes mislabeled, e.g. {wrong[:5]}"


def test_distributed_round_cap_raises(spark, monkeypatch):
    """Past the round cap the distributed path raises an error naming
    the operator and the round count; it never returns labels."""
    monkeypatch.setattr(pinning, "_DRIVER_FINISH_ROWS", 0)
    monkeypatch.setattr(DD, "_CC_MAX_ROUNDS", 1)
    with pytest.raises(RuntimeError, match=r"connected_components: no fixpoint after 1 "):
        _components(spark, 50, _shuffled_chain(50))


def test_collect_if_small_gate(spark, monkeypatch):
    df = spark.range(3)
    pinned, small = pinning.collect_if_small(df)
    assert small is not None and sorted(small.column("id").to_pylist()) == [0, 1, 2]
    monkeypatch.setattr(pinning, "_DRIVER_FINISH_ROWS", 2)
    pinned, small = pinning.collect_if_small(df)
    assert small is None
    assert pinned.count() == 3


@pytest.mark.parametrize(
    "name", ["dedup_clusters", "embed_dup_clusters", "pagerank_purchases"]
)
def test_graph_entries_equal_both_ways_of_the_gate(spark, sf_dir, monkeypatch, name):
    """The driver finish and the distributed rounds give the same
    rows, and both match the entry's DuckDB oracle."""
    import __spark_entry__ as entry
    from oracle_utils import compare

    q = entry.queries()[name]
    driver = q(spark, sf_dir)
    ok, msg = compare(driver, entry.oracle_sql()[name], sf_dir)
    assert ok, msg
    monkeypatch.setattr(pinning, "_DRIVER_FINISH_ROWS", 0)
    distributed = q(spark, sf_dir)
    assert driver.schema == distributed.schema
    assert sorted(driver.collect()) == sorted(distributed.collect())


def _hints_not_on_a_join(plan, parent: str | None = None) -> list[str]:
    """Names of the nearest Join/Union ancestor of every ResolvedHint
    in a logical plan whose nearest such ancestor is not a Join (the
    optimizer drops those hints and logs a warning)."""
    name = plan.nodeName()
    if name == "ResolvedHint" and parent != "Join":
        return [str(parent)]
    if name in ("Join", "Union"):
        parent = name
    kids = plan.children()
    return [p for i in range(kids.size()) for p in _hints_not_on_a_join(kids.apply(i), parent)]


def test_restricted_verify_hints_only_join_inputs(spark):
    """jaccard_pairs' restricted verify broadcasts the pinned pairs and
    the id set as join inputs only; the id set is derived from the
    unhinted pin, so no hint sits under its Union."""
    docs = spark.createDataFrame(
        [(1, "a b c d"), (2, "a b c e"), (3, "x y z")], "doc_id long, text string"
    )
    pairs = spark.createDataFrame([(1, 2), (2, 3)], "id_a long, id_b long")
    out = DD.jaccard_pairs(docs, pairs, "text", "doc_id")
    assert _hints_not_on_a_join(out._jdf.queryExecution().analyzed()) == []
    assert sorted((r.id_a, r.id_b) for r in out.collect()) == [(1, 2), (2, 3)]
