"""similarity.kmeans_centroids against the pure-Python Lloyd reference
(tests/replicas.py:_py_kmeans): md5 seeds, normalized-centroid dot
argmax with lowest-id ties, exact integer means, carry-over for empty
clusters, and per-row assignment when ids repeat."""

from __future__ import annotations

import hashlib

import pytest

from tests.replicas import _py_kmeans


def _train(spark, rows, k, iters):
    from wq_data_pipeline_spark.operators.similarity import kmeans_centroids

    emb = spark.createDataFrame(rows, "vec_id BIGINT, embedding ARRAY<DOUBLE>")
    got = kmeans_centroids(emb, k=k, iters=iters).collect()
    return {r["centroid_id"]: list(r["embedding"]) for r in got}


def _assert_matches_reference(spark, rows, k, iters):
    got = _train(spark, rows, k, iters)
    want = _py_kmeans(rows, k, iters)
    assert sorted(got) == list(range(len(want)))
    for cid, c in enumerate(want):
        assert got[cid] == pytest.approx(c, rel=1e-9, abs=1e-9), cid
    return want


def test_kmeans_matches_reference_on_tight_clusters(spark):
    """Three integer-valued clusters in 8 dimensions, 3 rounds."""
    centers = [
        [1000, -1000, 1000, -1000, 500, 0, 0, 0],
        [-800, 900, 0, 0, -700, 600, 0, 0],
        [0, 0, -900, -900, 0, 0, 800, 800],
    ]
    rows = [
        (c * 100 + i, [float(x + (i * 7 + d * 3) % 21 - 10) for d, x in enumerate(ctr)])
        for c, ctr in enumerate(centers)
        for i in range(30)
    ]
    for iters in (0, 1, 3):
        _assert_matches_reference(spark, rows, k=3, iters=iters)


def test_kmeans_empty_cluster_keeps_previous_centroid(spark):
    """The two smallest-md5 ids carry the same vector, so both seeds
    normalize identically: in round 1 every tie goes to centroid 0,
    cluster 1 is empty and keeps its seed."""
    ids = sorted(range(10), key=lambda i: hashlib.md5(str(i).encode()).hexdigest())
    vecs = [[10.0, 10.0], [10.0, 10.0]] + [[30.0 + i, 10.0 - i] for i in range(8)]
    rows = [(i, v) for i, v in zip(ids, vecs)]
    want = _assert_matches_reference(spark, rows, k=2, iters=1)
    assert want[1] == [10.0, 10.0]
    assert want[0] == pytest.approx([(20 + 8 * 30 + 28) / 10, (20 + 80 - 28) / 10])
    _assert_matches_reference(spark, rows, k=2, iters=3)


def test_kmeans_duplicate_ids_are_assigned_per_row(spark):
    """Two rows share id 3: one sits in cluster A, one in cluster B.
    Each must join its own cluster (keying the rounds on the id would
    send both to whichever scored higher)."""
    a = [(i, [1000.0 + i * 3, 1000.0 - i * 2]) for i in range(6)]
    b = [(6 + i, [-1000.0 - i * 2, 1000.0 + i * 3]) for i in range(6)]
    rows = a + b + [(3, [-1010.0, 1020.0])]
    want = _assert_matches_reference(spark, rows, k=2, iters=3)
    # cluster B's mean includes the extra row, cluster A keeps all six
    assert want[0] == pytest.approx([-7040.0 / 7, 7065.0 / 7])
    assert want[1] == pytest.approx([1007.5, 995.0])
