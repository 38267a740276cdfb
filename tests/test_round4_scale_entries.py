"""Invariant and plan tests for the scale-machinery entries (dedup,
similarity, relational and streaming families): planted-duplicate
spans, PQ code sanity + plan shape, windowed-dedup tie-break."""

from __future__ import annotations

import datetime

import pytest
from pyspark.sql import functions as F


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def _write_documents(spark, path, rows):
    spark.createDataFrame(
        [(i, t, "en", "src0", len(t)) for i, t in enumerate(rows)],
        "doc_id long, text string, lang string, source string, n_chars long",
    ).write.mode("overwrite").parquet(f"{path}/documents.parquet")


def test_dup_spans_finds_planted_run(spark, tmp_path):
    """Two docs share one 12-token sentence inside unique filler; the
    operator must report exactly one span per doc, covering exactly
    the planted 12 tokens (merged from the 5 duplicated 8-grams)."""
    from wq_data_pipeline_spark.plans.dedup import q_dup_spans

    planted = " ".join(f"shared{i}" for i in range(12))
    fill_a = " ".join(f"au{i}" for i in range(10))
    fill_b = " ".join(f"bu{i}" for i in range(7))
    docs = [
        f"{fill_a} {planted} atail0 atail1",  # planted at token 10
        f"{fill_b} {planted}",  # planted at token 7
        " ".join(f"cu{i}" for i in range(30)),  # no dup at all
    ]
    _write_documents(spark, tmp_path, docs)
    out = {r.doc_id: r for r in q_dup_spans(spark, str(tmp_path)).collect()}
    assert set(out) == {0, 1}
    assert out[0].span_start == 10 and out[0].span_len == 12
    assert out[1].span_start == 7 and out[1].span_len == 12
    for r in out.values():
        assert r.n_dup_grams == 5  # 12 - 8 + 1
        assert r.max_docs_sharing == 2
        assert r.span_end == r.span_start + r.span_len - 1


def test_dup_spans_merges_adjacent_runs(spark, tmp_path):
    """Two shared runs separated by < 8 unique tokens in one doc merge
    into one span; separated by >= 9 they stay two spans."""
    from wq_data_pipeline_spark.plans.dedup import q_dup_spans

    run1 = " ".join(f"p{i}" for i in range(8))
    run2 = " ".join(f"q{i}" for i in range(8))
    gap_small = " ".join(f"ga{i}" for i in range(3))
    gap_big = " ".join(f"gb{i}" for i in range(20))
    docs = [
        f"{run1} {gap_small} {run2}",  # gap 3 -> grams 8 apart? start2 = 11; 11-0 > 8 -> actually split
        f"{run1} {gap_big} {run2}",  # far apart -> two spans
        f"{run1} zz1 zz2 {run2}",  # other doc holding both runs
    ]
    _write_documents(spark, tmp_path, docs)
    rows = q_dup_spans(spark, str(tmp_path)).collect()
    by_doc = {}
    for r in rows:
        by_doc.setdefault(r.doc_id, []).append(r)
    # doc 1: runs separated by 20 unique tokens -> exactly two spans
    assert len(by_doc[1]) == 2
    spans1 = sorted((r.span_start, r.span_end) for r in by_doc[1])
    assert spans1[0] == (0, 7) and spans1[1] == (28, 35)
    # every reported span in every doc is exactly one planted run wide
    for r in by_doc[1]:
        assert r.span_len == 8 and r.n_dup_grams == 1


def test_pq_encode_plan_and_codebook_selfmatch(spark, sf_dir):
    """PQ plan: codebook broadcast, no cartesian product. Codebook
    vectors (vec_id < 16) must encode to themselves with zero error;
    all codes lie in [0, 16)."""
    from wq_data_pipeline_spark.plans.similarity import q_pq_encode

    df = q_pq_encode(spark, sf_dir)
    p = _plan(df)
    assert "CartesianProduct" not in p and "BroadcastNestedLoopJoin" not in p, p
    assert "BroadcastExchange" in p or "BroadcastHashJoin" in p, p
    rows = df.collect()
    assert len(rows) >= 16
    for r in rows:
        for s in range(4):
            assert 0 <= r[f"code_{s}"] < 16
        if r.vec_id < 16:
            assert r.err_sum == 0
            assert [r.code_0, r.code_1, r.code_2, r.code_3] == [r.vec_id] * 4


def test_dup_span_removal_keeps_lowest_doc(spark, tmp_path):
    """The keeper (lowest doc_id sharing the span's first gram) keeps
    its text verbatim; the other doc loses exactly the planted run and
    its md5 equals the hand-built cleaned text."""
    import hashlib

    from wq_data_pipeline_spark.plans.dedup import q_dup_span_removal

    planted = " ".join(f"shared{i}" for i in range(10))
    fill_a = " ".join(f"au{i}" for i in range(5))
    fill_b = " ".join(f"bu{i}" for i in range(5))
    docs = [
        f"{fill_a} {planted}",
        f"{fill_b} {planted} btail",
    ]
    _write_documents(spark, tmp_path, docs)
    out = {r.doc_id: r for r in q_dup_span_removal(spark, str(tmp_path)).collect()}
    assert out[0].n_removed == 0
    assert out[0].text_md5 == hashlib.md5(docs[0].encode()).hexdigest()
    assert out[1].n_removed == 10
    cleaned1 = f"{fill_b} btail"
    assert out[1].text_md5 == hashlib.md5(cleaned1.encode()).hexdigest()
    assert out[1].n_tokens == 16  # original token count, pre-removal


def test_dup_span_removal_merged_island_over_removes(spark, tmp_path):
    """Pin the documented keep-one DEVIATION (Lee et al. 2022 §3 would
    keep one copy of every duplicated span): when two distinct
    duplicated runs A and B sit ADJACENT in one doc, their dup grams
    merge into one island whose keeper is decided by A's first gram —
    so that doc removes its copy of B even though it is B's lowest-id
    holder, and B ends up removed from EVERY doc (over-removal, the
    safe direction for training-data dedup). If this test starts
    failing because B survives somewhere, strict keep-one semantics
    landed — update the q_dup_span_removal docstring contract."""
    import hashlib

    from wq_data_pipeline_spark.plans.dedup import q_dup_span_removal

    run_a = " ".join(f"aa{i}" for i in range(8))  # exactly one 8-gram
    run_b = " ".join(f"bb{i}" for i in range(8))
    fill0 = " ".join(f"f{i}" for i in range(5))
    fill2 = " ".join(f"g{i}" for i in range(5))
    docs = [
        f"{fill0} {run_a}",  # doc 0: A's keeper
        f"{run_a} {run_b}",  # doc 1: A and B adjacent -> merged island
        f"{fill2} {run_b}",  # doc 2: shares B with doc 1
    ]
    _write_documents(spark, tmp_path, docs)
    out = {r.doc_id: r for r in q_dup_span_removal(spark, str(tmp_path)).collect()}
    # doc 0 keeps A verbatim (it is A's lowest-id holder)
    assert out[0].n_removed == 0
    assert out[0].text_md5 == hashlib.md5(docs[0].encode()).hexdigest()
    # doc 1: A's gram (pos 0) and B's gram (pos 8) are exactly _SPAN_N
    # apart -> ONE island [0, 15] whose keeper is A's (doc 0) -> doc 1
    # removes BOTH runs, although strict keep-one would keep its B copy
    assert out[1].n_removed == 16 and out[1].n_tokens == 16
    assert out[1].text_md5 == hashlib.md5(b"").hexdigest()
    # doc 2 also removes B (its keeper is doc 1) -> B survives NOWHERE
    assert out[2].n_removed == 8
    assert out[2].text_md5 == hashlib.md5(fill2.encode()).hexdigest()


def test_pq_search_shape_and_recall(spark, sf_dir):
    """ADC search: no cartesian, LUT broadcast, ranks dense 1..10 per
    query, self excluded; and the PQ top-1 neighbor's TRUE L2 distance
    is within the top quartile of true distances (coarse-codebook
    sanity — 16 centroids/subspace can't promise more)."""
    from wq_data_pipeline_spark.plans.similarity import q_pq_search, _pq_subvectors

    df = q_pq_search(spark, sf_dir)
    p = _plan(df)
    assert "CartesianProduct" not in p and "BroadcastNestedLoopJoin" not in p, p
    assert "BroadcastExchange" in p, p
    rows = df.collect()
    byq = {}
    for r in rows:
        assert r.neighbor_id != r.query_id
        byq.setdefault(r.query_id, []).append(r)
    for qid, rs in byq.items():
        assert sorted(x.rank for x in rs) == list(range(1, 11))
        # adc_dist non-decreasing in rank
        rs = sorted(rs, key=lambda x: x.rank)
        assert all(a.adc_dist <= b.adc_dist for a, b in zip(rs, rs[1:]))

    # recall sanity on one query: true squared-L2 of the ADC top-1
    # lands in the best quartile of all true distances for that query
    sub = _pq_subvectors(spark, sf_dir).collect()
    import collections

    vecs = collections.defaultdict(dict)
    for r in sub:
        vecs[r.vec_id][r.s] = r.sub
    qid = min(byq)
    top1 = min(byq[qid], key=lambda x: x.rank).neighbor_id

    def true_d2(a, b):
        return sum(
            (x - y) * (x - y)
            for s in range(4)
            for x, y in zip(vecs[a][s], vecs[b][s])
        )

    dists = sorted(true_d2(qid, v) for v in vecs if v != qid)
    assert true_d2(qid, top1) <= dists[len(dists) // 4]


def test_ivf_pq_search_probes_and_ranks(spark, sf_dir):
    """IVF-PQ: every neighbor's bucket is one of its query's nprobe
    probed buckets; ranks are dense from 1; self excluded; and the
    candidate set is a strict subset of pq_search's full scan (the
    point of the coarse index)."""
    from wq_data_pipeline_spark.plans.similarity import (
        _IVF_NPROBE,
        q_ivf_pq_search,
        q_pq_search,
    )

    rows = q_ivf_pq_search(spark, sf_dir).collect()
    byq = {}
    for r in rows:
        assert r.neighbor_id != r.query_id
        byq.setdefault(r.query_id, []).append(r)
    for qid, rs in byq.items():
        ranks = sorted(x.rank for x in rs)
        assert ranks == list(range(1, len(ranks) + 1))
        assert len({x.coarse_id for x in rs}) <= _IVF_NPROBE
    # probing must not IMPROVE on the full ADC scan: for a shared
    # (query, neighbor) pair both paths compute the same adc_dist
    full = {
        (r.query_id, r.neighbor_id): r.adc_dist
        for r in q_pq_search(spark, sf_dir).collect()
    }
    shared = [
        r for r in rows if (r.query_id, r.neighbor_id) in full
    ]
    assert shared, "IVF-PQ top-k shares no pair with the full scan?"
    for r in shared:
        assert r.adc_dist == full[(r.query_id, r.neighbor_id)]


def test_event_dedup_window_tiebreak(spark, tmp_path):
    """Same (user, type, window, ts) twice -> the smaller event_id is
    kept; a later event in the same window is dropped but counted."""
    from wq_data_pipeline_spark.plans.streaming import q_event_dedup_window

    t0 = datetime.datetime(2024, 1, 1, 0, 1, 0)
    rows = [
        (7, t0, 1, "click", 1.0),
        (3, t0, 1, "click", 2.0),  # same ts -> wins on smaller id
        (9, t0 + datetime.timedelta(minutes=5), 1, "click", 3.0),  # same window
        (11, t0 + datetime.timedelta(minutes=20), 1, "click", 4.0),  # next window
    ]
    spark.createDataFrame(
        rows, "event_id long, ts timestamp, user_id long, event_type string, value double"
    ).write.mode("overwrite").parquet(f"{tmp_path}/events.parquet")
    out = sorted(
        q_event_dedup_window(spark, str(tmp_path)).collect(),
        key=lambda r: r.win_start_us,
    )
    assert [r.event_id for r in out] == [3, 11]
    assert out[0].n_in_window == 3 and out[1].n_in_window == 1


def test_dup_spans_guarantee_randomized(spark, tmp_path):
    """The exact-substring guarantee, fuzzed: for ANY pair of docs
    sharing a planted run of L >= 8 tokens (random L, random
    positions, per-doc-unique filler so no accidental cross-doc
    grams), dup_spans reports exactly one span per doc covering
    exactly the planted run, and dup_span_removal strips exactly L
    tokens from the higher doc_id and none from the lower."""
    import numpy as np

    from wq_data_pipeline_spark.plans.dedup import q_dup_span_removal, q_dup_spans

    rng = np.random.default_rng(11)
    n_cases = 15
    docs, planted_at, planted_len = [], {}, {}
    for case in range(n_cases):
        L = int(rng.integers(8, 15))
        shared = [f"c{case}s{i}" for i in range(L)]
        for d in (0, 1):
            doc_id = case * 2 + d
            nl = int(rng.integers(0, 26))
            nr = int(rng.integers(0, 26))
            left = [f"c{case}d{d}l{i}" for i in range(nl)]
            right = [f"c{case}d{d}r{i}" for i in range(nr)]
            docs.append((doc_id, " ".join(left + shared + right)))
            planted_at[doc_id] = nl
            planted_len[doc_id] = L
    docs.sort()
    _write_documents(spark, tmp_path, [t for _, t in docs])
    spans = {}
    for r in q_dup_spans(spark, str(tmp_path)).collect():
        spans.setdefault(r.doc_id, []).append(r)
    for doc_id in planted_at:
        assert len(spans[doc_id]) == 1, f"doc {doc_id}: expected one span"
        s = spans[doc_id][0]
        assert s.span_start == planted_at[doc_id], doc_id
        assert s.span_len == planted_len[doc_id], doc_id
        assert s.max_docs_sharing == 2, doc_id
    removal = {r.doc_id: r for r in q_dup_span_removal(spark, str(tmp_path)).collect()}
    for case in range(n_cases):
        keeper, loser = case * 2, case * 2 + 1
        assert removal[keeper].n_removed == 0, case
        assert removal[loser].n_removed == planted_len[loser], case


def test_r4_entries_survive_degenerate_inputs(spark, tmp_path):
    """Edge inputs: an all-short corpus (no doc reaches 8 tokens) and
    an all-unique corpus must both yield zero spans and a lossless
    removal pass; the dedup window must handle a single event."""
    import datetime
    import hashlib

    from wq_data_pipeline_spark.plans.dedup import q_dup_span_removal, q_dup_spans
    from wq_data_pipeline_spark.plans.streaming import q_event_dedup_window

    # every doc under the 8-token gram width -> no grams at all
    _write_documents(spark, tmp_path, ["one two three", "four five", "six"])
    assert q_dup_spans(spark, str(tmp_path)).count() == 0
    out = {r.doc_id: r for r in q_dup_span_removal(spark, str(tmp_path)).collect()}
    assert out[0].n_removed == 0
    assert out[0].text_md5 == hashlib.md5(b"one two three").hexdigest()

    # all-unique corpus: grams exist, none shared
    _write_documents(
        spark,
        tmp_path,
        [" ".join(f"u{d}_{i}" for i in range(12)) for d in range(3)],
    )
    assert q_dup_spans(spark, str(tmp_path)).count() == 0
    assert q_dup_span_removal(spark, str(tmp_path)).filter("n_removed > 0").count() == 0

    # one event -> one kept row, n_in_window 1
    spark.createDataFrame(
        [(1, datetime.datetime(2024, 1, 1), 5, "click", 1.0)],
        "event_id long, ts timestamp, user_id long, event_type string, value double",
    ).write.mode("overwrite").parquet(f"{tmp_path}/events.parquet")
    rows = q_event_dedup_window(spark, str(tmp_path)).collect()
    assert len(rows) == 1 and rows[0].n_in_window == 1


def test_salted_user_stats_no_single_reducer_key(spark, sf_dir):
    """The salted entry's plan must contain TWO hash aggregations over
    the exchange (partial on (key, salt), final on key) — i.e. the
    salt column reaches the first shuffle."""
    from wq_data_pipeline_spark.plans.relational import q_salted_user_stats

    p = _plan(q_salted_user_stats(spark, sf_dir))
    assert "_salt" in p, p


def test_dup_span_removal_merged_islands_documented_overremoval(spark, tmp_path):
    """Pins the documented keeper-rule deviation (ADVICE r4): when two
    duplicated runs A and B chain into ONE island in some doc (dup
    positions <= 8 apart), the island keeper is A's first-gram keeper,
    so that doc drops its copy of B too — and B's only other holder
    drops B as well (its keeper is the chained doc). Net: B survives
    NOWHERE — over-removal, the safe direction. Engine and oracle must
    agree exactly on this case."""
    import hashlib

    from wq_data_pipeline_spark.plans.dedup import (
        SQL_DUP_SPAN_REMOVAL,
        q_dup_span_removal,
    )

    run_a = [f"aa{i}" for i in range(12)]
    run_b = [f"bb{i}" for i in range(12)]
    fill0 = [f"f0u{i}" for i in range(5)]
    fill2 = [f"f2u{i}" for i in range(5)]
    docs = [
        " ".join(fill0 + run_a),          # doc 0: keeper of run A
        " ".join(run_a + run_b),          # doc 1: A+B chain -> ONE island, keeper 0
        " ".join(fill2 + run_b),          # doc 2: run B only, B's keeper is doc 1
    ]
    _write_documents(spark, tmp_path, docs)
    out = {r.doc_id: r for r in q_dup_span_removal(spark, str(tmp_path)).collect()}
    # doc 0 keeps A verbatim
    assert out[0].n_removed == 0
    assert out[0].text_md5 == hashlib.md5(docs[0].encode()).hexdigest()
    # doc 1: dup gram positions 0..4 (A) and 12..16 (B); gap 12-4=8 <= 8
    # merges them -> island [0, 23] covers the WHOLE doc, keeper is A's
    # (doc 0) -> doc 1 removes all 24 tokens including its copy of B
    assert out[1].n_removed == 24
    assert out[1].text_md5 == hashlib.md5(b"").hexdigest()
    # doc 2: B's first-gram keeper is doc 1 (1 < 2) -> doc 2 removes B.
    # B now survives in NO document — the documented over-removal.
    assert out[2].n_removed == 12
    assert out[2].text_md5 == hashlib.md5(" ".join(fill2).encode()).hexdigest()
    # the DuckDB oracle implements the identical rule
    from tests.oracle_utils import compare

    ok, info = compare(
        q_dup_span_removal(spark, str(tmp_path)), SQL_DUP_SPAN_REMOVAL, str(tmp_path)
    )
    assert ok, info


def test_dup_span_removal_keepone_basic(spark, tmp_path):
    """Identical islands across docs: the (doc_id, s0)-minimal
    occurrence is kept verbatim, every other occurrence is removed —
    same outcome as the first-gram rule when islands align."""
    import hashlib

    from wq_data_pipeline_spark.plans.dedup import q_dup_span_removal_keepone

    planted = " ".join(f"shared{i}" for i in range(10))
    fill_a = " ".join(f"au{i}" for i in range(5))
    fill_b = " ".join(f"bu{i}" for i in range(5))
    fill_c = " ".join(f"cu{i}" for i in range(5))
    docs = [
        f"{fill_a} {planted}",
        f"{fill_b} {planted} btail",
        f"{fill_c} {planted}",
    ]
    _write_documents(spark, tmp_path, docs)
    out = {
        r.doc_id: r for r in q_dup_span_removal_keepone(spark, str(tmp_path)).collect()
    }
    assert out[0].n_removed == 0
    assert out[0].text_md5 == hashlib.md5(docs[0].encode()).hexdigest()
    # exactly cnt-1 = 2 occurrences removed, the keeper's copy survives
    assert out[1].n_removed == 10
    assert out[1].text_md5 == hashlib.md5(f"{fill_b} btail".encode()).hexdigest()
    assert out[2].n_removed == 10
    assert out[2].text_md5 == hashlib.md5(fill_c.encode()).hexdigest()


def test_dup_span_removal_keepone_merged_island_conserves(spark, tmp_path):
    """The chained-run case that makes the first-gram rule destroy B
    everywhere (test_dup_span_removal_merged_island_over_removes):
    under the text-group keeper the merged island's text matches no
    other island, every group is a singleton, and NOTHING is removed
    — conservative under-removal, but one copy of A and B each
    survives (the strict keep-one guarantee)."""
    import hashlib

    from wq_data_pipeline_spark.plans.dedup import q_dup_span_removal_keepone

    run_a = " ".join(f"aa{i}" for i in range(8))
    run_b = " ".join(f"bb{i}" for i in range(8))
    fill0 = " ".join(f"f{i}" for i in range(5))
    fill2 = " ".join(f"g{i}" for i in range(5))
    docs = [
        f"{fill0} {run_a}",   # A island
        f"{run_a} {run_b}",   # merged island "A B"
        f"{fill2} {run_b}",   # B island
    ]
    _write_documents(spark, tmp_path, docs)
    out = {
        r.doc_id: r for r in q_dup_span_removal_keepone(spark, str(tmp_path)).collect()
    }
    for i, doc in enumerate(docs):
        assert out[i].n_removed == 0, (i, out[i])
        assert out[i].text_md5 == hashlib.md5(doc.encode()).hexdigest()
