"""Results must not depend on ``spark.sql.ansi.enabled``: Spark 4 turns
ANSI mode on by default, where an out-of-bounds array index throws
INVALID_ARRAY_INDEX instead of returning NULL."""

from __future__ import annotations

import pytest

from wq_data_pipeline_spark.operators.similarity import semdedup_within


@pytest.fixture
def ansi_mode(spark):
    prior = spark.conf.get("spark.sql.ansi.enabled")

    def set_mode(enabled: bool) -> None:
        spark.conf.set("spark.sql.ansi.enabled", str(enabled).lower())

    yield set_mode
    spark.conf.set("spark.sql.ansi.enabled", prior)


def test_semdedup_within_short_vector_same_in_both_modes(spark, ansi_mode):
    """One 2-wide vector in a 4-dim cluster: its pairs get a NULL
    similarity and drop out in both modes, and the unrolled dot agrees
    with the zip_with fold."""
    rows = [
        (1, [10, 0, 0, 0], 0),
        (2, [10, 0, 0, 1], 0),  # near-dup of 1
        (3, [10, 0], 0),  # short: no pair may form with it
        (4, [10, 0, 0, 0], 0),  # exact dup of 1, also pairs with 2
    ]
    assigned = spark.createDataFrame(
        rows, "vec_id BIGINT, q ARRAY<BIGINT>, cluster_id INT"
    )
    results = {}
    for enabled in (True, False):
        ansi_mode(enabled)
        for dim in (4, None):
            results[(enabled, dim)] = sorted(
                tuple(r)
                for r in semdedup_within(assigned, tau=0.97, dim=dim).collect()
            )
    want = results[(False, None)]
    assert all(got == want for got in results.values()), results
    by_id = {r[0]: r for r in want}
    assert by_id[3][2] is False and by_id[3][3] == 0
    assert by_id[4][2] is True and by_id[4][3] == 2
