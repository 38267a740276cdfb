"""doc_adjacent_lcp / global_adjacent_lcp vs a pure-Python suffix sort
on adversarial strings — periodic text, runs of one character, shared
64+ prefixes (the depth-bound tie region), multibyte text."""

from __future__ import annotations

import pytest

from wq_data_pipeline_spark.operators.suffix import doc_adjacent_lcp

DOCS = [
    (1, "banana"),
    (2, "aaaaaaaaaaaa"),
    (3, "abcabcabcabcabcabcabcabc"),
    (4, "x" * 70 + "y" + "x" * 70),  # shared prefixes past depth 64
    (5, "the quick brown fox jumps over the lazy dog the quick brown fox"),
    (6, "ab"),
]
# non-ASCII docs take suffix_window_keys' char-indexed slow path, the
# ASCII docs above its byte-sliced fast path
MULTIBYTE_DOCS = [
    (7, "héllo wörld héllo wörld héllo"),  # multibyte
    (8, "日本語のテキスト日本語のテキスト"),  # CJK, periodic
    (9, "a"),  # single char: zero adjacency rows
    (10, "cafécafé" * 12),  # periodic past depth 64
]
DEPTH = 64


def _ref_order(text: str) -> list[int]:
    """Positions in depth-bounded suffix order (first DEPTH chars,
    ties by position)."""
    return sorted(range(len(text)), key=lambda i: (text[i : i + DEPTH], i))


def _ref_lcp(text: str, a: int, b: int, cap: int) -> int:
    sa, sb = text[a : a + cap], text[b : b + cap]
    n = 0
    for x, y in zip(sa, sb):
        if x != y:
            break
        n += 1
    return n


@pytest.fixture(scope="module")
def docs_df(spark):
    return spark.createDataFrame(DOCS, ["doc_id", "text"])


def test_adjacent_lcp_matches_reference(spark):
    docs = DOCS + MULTIBYTE_DOCS
    df = spark.createDataFrame(docs, ["doc_id", "text"])
    rows = doc_adjacent_lcp(df, "doc_id", "text", DEPTH).collect()
    got = {(r["doc_id"], r["prev_pos"], r["pos"]): r["lcp"] for r in rows}
    texts = dict(docs)
    assert all(r["n"] == len(texts[r["doc_id"]]) for r in rows)
    for doc_id, text in docs:
        order = _ref_order(text)
        for prev, cur in zip(order, order[1:]):
            want = _ref_lcp(text, prev, cur, DEPTH - 1)
            assert got[(doc_id, prev, cur)] == want, (doc_id, prev, cur)
    # every adjacency is covered exactly once
    n_pairs = sum(len(t) - 1 for _, t in docs)
    assert len(got) == n_pairs


def test_global_adjacency_matches_reference(spark, docs_df):
    """Corpus-global order with MORE partitions than rows per range
    bucket — exercises the boundary stitch (every partition edge is a
    stitched pair) and empty-partition handling."""
    from wq_data_pipeline_spark.operators.suffix import global_adjacent_lcp

    got = _global_pairs(global_adjacent_lcp(docs_df, "doc_id", "text", DEPTH, num_partitions=16))
    assert got == _ref_global_pairs(DOCS)


def test_global_adjacency_thin_sample_falls_back_to_full_bounds(spark, monkeypatch):
    """A skewed corpus — almost every position in one repeated-
    character document family, so the 5% doc sample yields one or two
    distinct range bounds — must rerun the quantiles over the full
    pass, and the pairs must not change."""
    from pyspark.sql.classic.dataframe import DataFrame

    from wq_data_pipeline_spark.operators.suffix import global_adjacent_lcp

    seen: list[list[float]] = []
    approx = DataFrame.approxQuantile

    def recording(self, *args, **kwargs):
        out = approx(self, *args, **kwargs)
        seen.append(out)
        return out

    monkeypatch.setattr(DataFrame, "approxQuantile", recording)
    # 150 docs keep an empty sample improbable on any partitioning;
    # their 7 short tail keys per doc stay under the lowest quantile
    docs = [(i, "a" * 120) for i in range(100, 250)] + [d for d in DOCS if d[0] != 4]
    df = spark.createDataFrame(docs, ["doc_id", "text"])
    got = _global_pairs(global_adjacent_lcp(df, "doc_id", "text", DEPTH, num_partitions=16))
    assert len(seen) == 2, "the full-pass quantiles did not run"
    assert 1 <= len(set(seen[0])) <= 2, seen[0]
    assert got == _ref_global_pairs(docs)


def _global_pairs(adj) -> dict:
    return {
        (r["prev_doc"], r["prev_pos"], r["doc_id"], r["pos"]): r["lcp"]
        for r in adj.collect()
    }


def _ref_global_pairs(docs) -> dict:
    """Brute-force corpus-global adjacency: (prev_doc, prev_pos,
    doc_id, pos) -> LCP capped at DEPTH-1."""
    texts = dict(docs)
    allpos = [
        (texts[d][p : p + DEPTH], d, p)
        for d, t in docs
        for p in range(len(t))
    ]
    allpos.sort()
    want = {}
    for (ka, da, pa), (kb, db, pb) in zip(allpos, allpos[1:]):
        # LCP on the padded depth-1 windows (cross-doc semantics)
        sa, sb = texts[da][pa : pa + DEPTH - 1], texts[db][pb : pb + DEPTH - 1]
        n = 0
        for x, y in zip(sa, sb):
            if x != y:
                break
            n += 1
        want[(da, pa, db, pb)] = n
    return want


def test_lcp_key_tree_matches_descent(spark):
    """r13: the binary-search LCP tree (one expr parse) must equal the
    greedy-descent form value-for-value on adversarial key pairs —
    equality at every boundary length, truncated tails (distinct
    sentinel pads), multibyte, and full-cap equality."""
    from pyspark.sql import functions as F

    from wq_data_pipeline_spark.operators.suffix import (
        _lcp_capped2,
        _lcp_key_tree_sql,
    )

    cases = [
        ("banana", "bananb"),
        ("aaaa", "aaaa"),  # equal keys
        ("abc", "abcdef"),  # truncated tail: pads must mismatch
        ("", "anything"),
        ("", ""),
        ("x" * 40, "x" * 40),  # equality past cap
        ("x" * 40, "x" * 30 + "y" * 10),
        ("héllo wörld", "héllo würld"),  # multibyte
        ("日本語テキスト", "日本語テクスト"),
    ]
    df = spark.createDataFrame(cases, ["ka", "kb"])
    for cap in (7, 31, 63, 5):  # the tree needs no all-ones cap...
        tree = df.select(
            F.expr(_lcp_key_tree_sql("`ka`", "`kb`", cap)).alias("t")
        ).collect()
        if cap & (cap + 1):  # ...but the descent does; compare where legal
            continue
        desc = df.select(
            _lcp_capped2(F.col("ka"), F.lit(0), F.col("kb"), F.lit(0), cap).alias("d")
        ).collect()
        assert [r.t for r in tree] == [r.d for r in desc], cap
    # cap=5 (non-all-ones) sanity against a python reference
    def ref(a, b, cap):
        pa = (a[:cap] + "\x01" * cap)[:cap]
        pb = (b[:cap] + "\x02" * cap)[:cap]
        m = 0
        for x, y in zip(pa, pb):
            if x != y:
                break
            m += 1
        return m

    got5 = [r.t for r in df.select(F.expr(_lcp_key_tree_sql("`ka`", "`kb`", 5)).alias("t")).collect()]
    assert got5 == [ref(a, b, 5) for a, b in cases]
