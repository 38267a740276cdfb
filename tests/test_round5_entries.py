"""Property tests for the r5 corpus-assembly entries — semantics the
DuckDB oracle mirror can't pin on its own (the oracle would share a
systematic bug; these check against independent reference logic)."""

from __future__ import annotations

import math
import random

import pytest
from pyspark.sql import functions as F

from wq_data_pipeline_spark.plans.corpus import (
    _merge_fold,
    q_domain_rebalance,
    q_token_budget_fill,
)
from wq_data_pipeline_spark.plans.similarity import q_semdedup_trained


def _greedy_merge_ref(seq: list[str], lft: str, rgt: str) -> list[str]:
    """Reference greedy left-to-right single-pass BPE merge."""
    out: list[str] = []
    i = 0
    while i < len(seq):
        if i + 1 < len(seq) and seq[i] == lft and seq[i + 1] == rgt:
            out.append(lft + rgt)
            i += 2
        else:
            out.append(seq[i])
            i += 1
    return out


def test_bpe_merge_fold_matches_reference(spark):
    """Fuzz the Spark array-fold merge against the reference greedy
    pass — including the lft == rgt overlapping-run case and symbols
    textually equal to the merged pair."""
    rng = random.Random(42)
    alphabet = ["a", "b", "ab", "c"]
    cases = [
        [],
        ["a"],
        ["a", "b"],
        ["a", "a", "a"],
        ["a", "a", "a", "a"],
        ["ab", "b", "a", "b"],
    ] + [
        [rng.choice(alphabet) for _ in range(rng.randint(1, 12))]
        for _ in range(60)
    ]
    pairs = [("a", "b"), ("a", "a"), ("ab", "b"), ("c", "a")]
    rows = [(i, seq) for i, seq in enumerate(cases)]
    df = spark.createDataFrame(rows, "id INT, s ARRAY<STRING>")
    for lft, rgt in pairs:
        got = {
            r["id"]: list(r["m"])
            for r in df.select(
                "id", _merge_fold(F.col("s"), lft, rgt).alias("m")
            ).collect()
        }
        for i, seq in enumerate(cases):
            assert got[i] == _greedy_merge_ref(seq, lft, rgt), (
                lft,
                rgt,
                seq,
                got[i],
            )


def test_token_budget_fill_is_maximal_prefix(spark, sf_dir):
    rows = q_token_budget_fill(spark, sf_dir).collect()
    total = sum(r["n_tokens"] for r in rows)
    budget = total // 2
    ordered = sorted(rows, key=lambda r: (-r["ttr_micro"], r["doc_id"]))
    running = 0
    for r in ordered:
        running += r["n_tokens"]
        assert r["cum_tokens"] == running
        assert r["selected"] == (running <= budget)
    # maximal prefix: the selected set is a take-while, so the first
    # unselected doc must overflow the budget
    first_out = next((r for r in ordered if not r["selected"]), None)
    if first_out is not None:
        sel_sum = sum(r["n_tokens"] for r in ordered if r["selected"])
        assert sel_sum <= budget < sel_sum + first_out["n_tokens"]


def test_semdedup_trained_cluster_shape(spark, sf_dir):
    rows = q_semdedup_trained(spark, sf_dir).collect()
    n = len(rows)
    k = max(1, math.ceil(n / 64))
    n_clusters = len({r["cluster_id"] for r in rows})
    assert n_clusters <= k
    for r in rows:
        if r["is_dup"]:
            assert r["n_dup_earlier"] >= 1
            assert r["max_sim_earlier"] >= 0.44 - 1e-6
        else:
            assert r["n_dup_earlier"] == 0


def test_semdedup_trained_oracle_k_is_dynamic():
    """The semdedup_trained oracle must derive its seed count IN-SQL
    as ceil(count(*)/target) — not a compile-time constant — so it
    tracks the engine's runtime k = ceil(n/64) at any scale factor
    (ADVICE r5: the old _KM_K literal silently compared a different
    clustering whenever the embeddings table wasn't ~500 rows)."""
    import duckdb

    from wq_data_pipeline_spark.plans.similarity import (
        _SDT_TARGET,
        SQL_SEMDEDUP_TRAINED,
    )

    assert f"ceil(count(*) / {_SDT_TARGET}.0)" in SQL_SEMDEDUP_TRAINED
    # and the SQL-side subquery computes the SAME k the engine derives
    # (ceil(n/target)) on the fixture the suite actually runs against
    import os

    sf = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.01")
    n, sql_k = duckdb.sql(
        f"SELECT count(*), CAST(ceil(count(*) / {_SDT_TARGET}.0) AS BIGINT) "
        f"FROM read_parquet('{sf}/embeddings.parquet')"
    ).fetchone()
    assert sql_k == math.ceil(n / _SDT_TARGET)


def test_narrow_argmax_duplicate_id_fans_out(spark):
    """Pin the narrow-argmax precondition (ADVICE r5): semdedup's
    assignment scores (id, cid, cs) rows and joins the winning
    cluster BACK by id, so a duplicated id fans out into phantom
    assigned rows where the old max_by/window forms collapsed to one.
    This test documents the failure mode loudly — if it starts
    failing with n_rows == n_input, a uniqueness-tolerant form landed
    and the docstring contracts should be relaxed."""
    from wq_data_pipeline_spark.operators.similarity import semdedup

    emb = spark.createDataFrame(
        [(1, [10, 0]), (1, [10, 1]), (2, [0, 10])],  # id 1 duplicated
        "vec_id INT, q ARRAY<BIGINT>",
    )
    cents = spark.createDataFrame(
        [(0, [10, 0]), (1, [0, 10])], "centroid_id INT, cq ARRAY<BIGINT>"
    )
    out = semdedup(emb, cents, tau=0.99)
    rows = out.collect()
    n_distinct = len({r["vec_id"] for r in rows})
    # the duplicated id survives as MULTIPLE output rows (3 rows for 2
    # distinct ids here) instead of collapsing to one-per-id
    assert len(rows) > n_distinct, (
        "duplicated vec_id no longer fans out — narrow-argmax "
        "uniqueness precondition may have been fixed; update docstrings"
    )


def test_domain_rebalance_rates(spark, sf_dir):
    rows = q_domain_rebalance(spark, sf_dir).collect()
    by_src: dict[str, list] = {}
    for r in rows:
        by_src.setdefault(r["source"], []).append(r)
    n_total = len(rows)
    sum_w = sum(rs[0]["target_w"] for rs in by_src.values())
    for src, rs in by_src.items():
        w, n_src = rs[0]["target_w"], rs[0]["n_src"]
        assert n_src == len(rs)
        assert 1 <= w <= 4
        expect = min(1_000_000, (w * n_total * 1_000_000) // (sum_w * n_src))
        assert rs[0]["rate_micro"] == expect
        # a full-rate source keeps everything
        if expect == 1_000_000:
            assert all(r["keep"] for r in rs)


def test_r5_operators_survive_degenerate_inputs(spark):
    """The r5-touched operators must survive empty inputs with the
    contract schema instead of plan-time type blowups (the
    bm25-empty-corpus class of bug, ADVICE r3)."""
    from pyspark.sql import functions as F

    from wq_data_pipeline_spark.operators.scale import distributed_prefix_sum
    from wq_data_pipeline_spark.operators.similarity import (
        kmeans_centroids,
        semdedup,
        semdedup_within,
    )

    e = spark.createDataFrame([], "k BIGINT, v BIGINT")
    out = distributed_prefix_sum(e, order_col="k", value_col="v", out="ps")
    assert out.count() == 0 and "ps" in out.columns

    a = spark.createDataFrame([], "vec_id BIGINT, q ARRAY<BIGINT>, cluster_id INT")
    assert semdedup_within(a).count() == 0

    emb = spark.createDataFrame([(1, [1, 2]), (2, [2, 3])], "vec_id BIGINT, q ARRAY<BIGINT>")
    cent0 = spark.createDataFrame([], "centroid_id INT, cq ARRAY<BIGINT>")
    assert semdedup(emb, cent0).count() == 0

    empty_corpus = spark.createDataFrame([], "vec_id BIGINT, q ARRAY<DOUBLE>")
    kc = kmeans_centroids(empty_corpus, k=4, iters=1, vec_col="q")
    assert kc.count() == 0 and kc.columns == ["centroid_id", "q"]

    # single-vector corpus: trains to that vector, no division blowups
    one = spark.createDataFrame([(7, [1.0, 2.0])], "vec_id BIGINT, q ARRAY<DOUBLE>")
    kc1 = kmeans_centroids(one, k=4, iters=2, vec_col="q")
    assert kc1.count() >= 1

    # merge fold on empty / single-symbol arrays
    from wq_data_pipeline_spark.plans.corpus import _merge_fold

    df = spark.createDataFrame([(0, []), (1, ["a"])], "id INT, s ARRAY<STRING>")
    got = {r["id"]: list(r["m"]) for r in df.select("id", _merge_fold(F.col("s"), "a", "b").alias("m")).collect()}
    assert got == {0: [], 1: ["a"]}


def _write_docs(spark, path, rows, source="src0"):
    spark.createDataFrame(
        [(i, t, "en", source, len(t)) for i, t in enumerate(rows)],
        "doc_id long, text string, lang string, source string, n_chars long",
    ).write.mode("overwrite").parquet(f"{path}/documents.parquet")


def test_bpe_entries_survive_merge_exhaustion(spark, tmp_path):
    """A corpus whose words are all single characters has NO mergeable
    pairs: the trainer must emit an empty merge table and bpe_apply
    must still tokenize (1 symbol per word) — and the DuckDB oracles
    must agree (the oracle's per-round vocab rebuild falls back to
    the previous vocab when the round's merge pick is empty, instead
    of emptying it through a CROSS JOIN)."""
    from tests.oracle_utils import compare

    from wq_data_pipeline_spark.plans.corpus import (
        SQL_BPE_APPLY,
        SQL_BPE_TRAIN,
        q_bpe_apply,
        q_bpe_train,
    )

    _write_docs(spark, tmp_path, ["a b c a", "b c", "a a a"])
    t = q_bpe_train(spark, str(tmp_path))
    assert t.count() == 0
    ok, info = compare(t, SQL_BPE_TRAIN, str(tmp_path))
    assert ok, info
    rows = {r.doc_id: r for r in q_bpe_apply(spark, str(tmp_path)).collect()}
    assert rows[0].n_words == 4 and rows[0].n_bpe_tokens == 4
    assert rows[2].n_words == 3 and rows[2].n_bpe_tokens == 3
    ok, info = compare(
        q_bpe_apply(spark, str(tmp_path)), SQL_BPE_APPLY, str(tmp_path)
    )
    assert ok, info


def test_domain_rebalance_digitless_source(spark, tmp_path):
    """Source names without digits must weight as index 0 on BOTH
    engines (a raw '' cast is NULL on Spark and an ERROR in DuckDB)."""
    from tests.oracle_utils import compare

    from wq_data_pipeline_spark.plans.corpus import (
        SQL_DOMAIN_REBALANCE,
        q_domain_rebalance,
    )

    _write_docs(spark, tmp_path, ["alpha beta", "gamma delta"], source="web")
    out = q_domain_rebalance(spark, str(tmp_path)).collect()
    assert len(out) == 2 and all(r.target_w == 1 for r in out)
    ok, info = compare(
        q_domain_rebalance(spark, str(tmp_path)), SQL_DOMAIN_REBALANCE, str(tmp_path)
    )
    assert ok, info


@pytest.mark.parametrize("_", [0])
def test_bpe_train_monotone_counts(spark, sf_dir, _):
    """Merge counts are non-increasing only within equal-pair classes
    is NOT guaranteed, but every learned count must be positive and
    rounds must be 1..N with distinct merged symbols."""
    from wq_data_pipeline_spark.plans.corpus import q_bpe_train

    rows = q_bpe_train(spark, sf_dir).collect()
    assert [r["round"] for r in rows] == list(range(1, len(rows) + 1))
    assert all(r["pair_count"] > 0 for r in rows)
    assert all(r["merged"] == r["lft"] + r["rgt"] for r in rows)
    assert len({r["merged"] for r in rows}) == len(rows)
