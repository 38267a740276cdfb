"""Keep-one invariant of the keeper-protected removal
(keepone_removal in plans/dedup.py) on the exact merged-island scenario that
breaks gram-island keeper rules (the r4/r5 ADVICE case): two distinct
duplicated strings ADJACENT in one copy merge into a single island,
and island-level keep-one then removes every occurrence of one of
them. The protected form must never erase a keeper character."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from wq_data_pipeline_spark.plans.dedup import (
    _KP_L,
    keepone_marks_and_removed,
    keepone_removal_report,
)

A = "abcdefghijklmnopqrstuvwxy"  # 25 chars > L
B = "0123456789!@#$%^&*()_+=-~"  # 25 chars > L
DOCS = [
    (1, A + "|||" + B),  # originals, first in corpus order
    (2, A + B),  # adjacent copies -> merged island in gram-island form
    (3, B + A),
    (4, "unique text with no duplicated grams at all here"),
]


@pytest.fixture(scope="module")
def frames(spark):
    docs = spark.createDataFrame(DOCS, ["doc_id", "text"])
    marked, removed = keepone_marks_and_removed(docs, _KP_L)
    return (
        [(r["doc_id"], r["s"], r["is_keeper"]) for r in marked.collect()],
        {(r["doc_id"], r["x"]) for r in removed.collect()},
    )


def test_no_keeper_char_removed(frames):
    marked, removed = frames
    keepers = [(d, s) for d, s, k in marked if k]
    assert keepers, "scenario must produce duplicated grams"
    for d, s in keepers:
        for x in range(s, s + _KP_L):
            assert (d, x) not in removed, (d, s, x)


def test_every_group_survives_somewhere(frames):
    """The text-level keep-one statement: every duplicated gram has
    at least one occurrence none of whose chars were removed."""
    marked, removed = frames
    texts = dict(DOCS)
    by_gram: dict[str, list[tuple[int, int]]] = {}
    for d, s, _ in marked:
        by_gram.setdefault(texts[d][s : s + _KP_L], []).append((d, s))
    assert by_gram
    for gram, occs in by_gram.items():
        intact = [
            (d, s)
            for d, s in occs
            if all((d, x) not in removed for x in range(s, s + _KP_L))
        ]
        assert intact, f"gram {gram!r} lost every occurrence"


def test_duplicate_copies_actually_removed(frames):
    """The operator must still DO its job: the non-original copies'
    duplicated regions get erased (doc 2 = A+B is entirely
    duplicated text, so most of it must go)."""
    _, removed = frames
    doc2_removed = {x for d, x in removed if d == 2}
    assert len(doc2_removed) >= len(A + B) * 3 // 4


def test_unique_doc_untouched(spark, frames):
    _, removed = frames
    assert not {x for d, x in removed if d == 4}


def test_report_consistency(spark):
    docs = spark.createDataFrame(DOCS, ["doc_id", "text"])
    rows = {r["doc_id"]: r for r in keepone_removal_report(docs, _KP_L).collect()}
    assert rows[4]["dup_occ"] == 0 and rows[4]["chars_removed"] == 0
    # originals hold the keepers; copies hold the duplicates
    assert rows[1]["keep_occ"] > 0
    assert rows[2]["dup_occ"] > 0 and rows[2]["chars_removed"] > 0


def test_sweep_counts_match_per_char_form(spark, frames):
    """The r9 interval-sweep counter (production path in
    keepone_removal_report) must count EXACTLY the chars the per-char
    binned-join form removes — per document, on the merged-island
    scenario."""
    from wq_data_pipeline_spark.plans.dedup import (
        keepone_marked,
        keepone_removed_counts,
    )

    _, removed = frames
    exact: dict[int, int] = {}
    for d, _x in removed:
        exact[d] = exact.get(d, 0) + 1
    docs = spark.createDataFrame(DOCS, ["doc_id", "text"])
    swept = {
        r["doc_id"]: r["chars_removed"]
        for r in keepone_removed_counts(keepone_marked(docs, _KP_L), _KP_L).collect()
    }
    assert swept == exact


def test_sweep_parity_on_testdata(spark):
    """Sweep-vs-per-char parity on real data (sf0.001 documents):
    the strongest form of the unchanged-oracle acceptance bar."""
    from wq_data_pipeline_spark.plans.dedup import (
        keepone_marked,
        keepone_marks_and_removed,
        keepone_removed_counts,
    )
    from wq_data_pipeline_spark.sources.testdata import load_table

    docs = load_table(spark, "/root/testdata/sf0.001", "documents").select(
        "doc_id", "text"
    )
    _, removed = keepone_marks_and_removed(docs, _KP_L)
    exact = {
        r["doc_id"]: r["c"]
        for r in removed.groupBy("doc_id").agg(F.count("*").alias("c")).collect()
    }
    swept = {
        r["doc_id"]: r["chars_removed"]
        for r in keepone_removed_counts(keepone_marked(docs, _KP_L), _KP_L).collect()
    }
    assert swept == exact
    assert exact, "fixture must contain duplicated grams"
