"""Entry pins: time travel, compaction, incremental view maintenance
and vacuum (lakehouse), incremental/containment/SimHash/keep-best dedup
(dedup) and key_skew_profile (relational).

Hand-computed semantics + invariant laws on synthetic fixtures; the
sf-oracle equivalence is pinned by test_oracle.py (the entries are in
the catalog). These pin what the oracle can't: the time-travel law
(base+log-prefix == direct resolution), planted dedup triage
outcomes, the skew arithmetic, and subset-duplication detection.
"""

from __future__ import annotations

import datetime as dt

import pytest
from pyspark.sql import functions as F

from wq_data_pipeline_spark.operators import dedup as DD
from wq_data_pipeline_spark.plans import dedup as DEDUP
from wq_data_pipeline_spark.plans import lakehouse as LAKEHOUSE
from wq_data_pipeline_spark.plans import relational as RELATIONAL

_BASE = dt.datetime(2024, 3, 1, tzinfo=dt.timezone.utc)


def _t(minutes: int) -> dt.datetime:
    return _BASE + dt.timedelta(minutes=minutes)


_EV_SCHEMA = (
    "event_id long, ts timestamp, user_id long, event_type string, "
    "value double"
)


def _write_events(spark, path, rows):
    spark.createDataFrame(rows, _EV_SCHEMA).coalesce(2).write.mode(
        "overwrite"
    ).parquet(f"{path}/events.parquet")


# --- cdc_time_travel --------------------------------------------------------


def test_time_travel_hand_computed(spark, tmp_path):
    """Span 0..100 min -> base cut at +40, as-of at +55. The as-of
    view sees base rows and log records in (40, 55] only; a winning
    delete inside the prefix kills its key; records after the as-of
    point (even though they are IN the physical log) are invisible."""
    rows = [
        # key A: base t0, log upsert t50 (visible), upsert t80 (not yet)
        (1, _t(0), 1, "a", 1.0),
        (6, _t(50), 1, "a", 2.0),
        (11, _t(80), 1, "a", 3.0),
        # key B: base t20, DELETE t45 inside the prefix -> gone at as-of
        (2, _t(20), 2, "a", 5.0),
        (10, _t(45), 2, "a", 6.0),
        # key C: inserted t60 -> after as-of, absent from this version
        (7, _t(60), 3, "b", 7.0),
        # key D: base-only
        (3, _t(0), 5, "c", 1.5),
        # span stretcher, after as-of
        (4, _t(100), 9, "z", 9.0),
    ]
    _write_events(spark, tmp_path, rows)
    out = {
        (r.user_id, r.event_type): (r.value, r.from_log)
        for r in LAKEHOUSE.q_cdc_time_travel(spark, str(tmp_path)).collect()
    }
    assert out == {(1, "a"): (2.0, True), (5, "c"): (1.5, False)}


def test_time_travel_equals_direct_resolution(spark, tmp_path):
    """The lakehouse law: reading version v through base(older cut) +
    log prefix must equal a direct latest-per-key resolution of ALL
    records <= v — the physical layout can never change the answer.
    Seeded random change stream, pure-Python direct resolution."""
    import random

    rng = random.Random(112358)
    rows = []
    for eid in range(1, 301):
        k = rng.randrange(25)
        rows.append(
            (
                eid,
                _t(rng.randrange(0, 5000)),
                k,
                f"t{k % 4}",
                round(rng.uniform(-50, 50), 2),
            )
        )
    _write_events(spark, tmp_path, rows)

    us = [int(r[1].timestamp() * 1_000_000) for r in rows]
    t0, t1 = min(us), max(us)
    asof = t0 + (t1 - t0) * LAKEHOUSE._TT_NUM // LAKEHOUSE._TT_DEN
    by_key: dict = {}
    for (eid, _ts, uid, et, val), u in zip(rows, us):
        if u <= asof:
            by_key.setdefault((uid, et), []).append(
                (u, eid, val, "D" if eid % 5 == 0 else "U")
            )
    expect = {}
    for key, recs in by_key.items():
        win = max(recs)  # latest (ts_us, event_id)
        if win[3] == "U":
            expect[key] = (win[0], win[2])

    got = {
        (r.user_id, r.event_type): (r.ts_us, r.value)
        for r in LAKEHOUSE.q_cdc_time_travel(spark, str(tmp_path)).collect()
    }
    assert got == expect
    assert expect, "random stream must produce a non-empty version"


# --- incremental_dedup ------------------------------------------------------

_DOC_SCHEMA = "doc_id long, text string, lang string, source string, n_chars long"

_W = [f"word{i:02d}" for i in range(40)]


def _write_docs(spark, path, rows):
    spark.createDataFrame(
        [(i, t, "en", "s", len(t)) for i, t in rows], _DOC_SCHEMA
    ).coalesce(2).write.mode("overwrite").parquet(f"{path}/documents.parquet")


def test_incremental_dedup_planted(spark, tmp_path):
    """Batch docs are doc_id%10==0. Planted outcomes: 10 is a word-set
    permutation of corpus doc 3 (exact_dup, canonical = 3); 20 shares
    39 of corpus doc 7's 40 words (J = 39/41 ~ 0.95 -> near_dup,
    match 7); 30 shares nothing (novel)."""
    corpus_3 = " ".join(_W[:20])
    batch_10 = " ".join(reversed(_W[:20]))  # same set, different order
    corpus_7 = " ".join(_W)  # 40 words
    batch_20 = " ".join(_W[:39]) + " zebra"  # 39 shared + 1 new
    batch_30 = "qqq www eee rrr ttt yyy uuu"
    filler = [
        (i, f"filler{i} " + " ".join(f"f{i}x{j}" for j in range(8)))
        for i in (1, 2, 4, 5, 6, 8, 9)
    ]
    _write_docs(
        spark,
        tmp_path,
        [(3, corpus_3), (7, corpus_7), (10, batch_10), (20, batch_20),
         (30, batch_30)] + filler,
    )
    out = {
        r.doc_id: (r.status, r.match_id, r.jaccard)
        for r in DEDUP.q_incremental_dedup(spark, str(tmp_path)).collect()
    }
    assert set(out) == {10, 20, 30}
    assert out[10] == ("exact_dup", 3, None)
    status, match, j = out[20]
    assert (status, match) == ("near_dup", 7)
    assert j == pytest.approx(39 / 41)
    assert out[30] == ("novel", None, None)


def test_incremental_candidates_cross_side_only(spark):
    """incremental_lsh_candidates pairs batch->corpus only: identical
    docs on opposite sides become a candidate; identical docs both in
    the corpus never pair with each other."""
    text = " ".join(_W[:25])
    mk = lambda rows: spark.createDataFrame(rows, "doc_id long, text string")
    new_df = mk([(100, text)])
    corpus_df = mk([(1, text), (2, text), (3, "unrelated stuff entirely")])
    got = {
        (r.new_id, r.corpus_id)
        for r in DD.incremental_lsh_candidates(new_df, corpus_df).collect()
    }
    assert got == {(100, 1), (100, 2)}


def test_incremental_guard_drops_hot_corpus_buckets(spark):
    """A corpus band bucket above max_df is dropped: a batch doc whose
    only matches are template spam surfaces novel (no candidates)."""
    text = " ".join(_W[:25])
    mk = lambda rows: spark.createDataFrame(rows, "doc_id long, text string")
    new_df = mk([(100, text)])
    corpus_df = mk([(i, text) for i in range(1, 6)])  # 5 identical docs
    got = DD.incremental_lsh_candidates(
        new_df, corpus_df, max_df=4
    ).count()
    assert got == 0
    # and with the guard off they all pair
    assert (
        DD.incremental_lsh_candidates(new_df, corpus_df, max_df=None).count()
        == 5
    )


# --- key_skew_profile -------------------------------------------------------


def test_key_skew_profile_hand_computed(spark, tmp_path):
    """type 'a': counts {1:5, 2:1, 3:1} -> n_keys 3, n_rows 7, max 5,
    top user 1, ratio round(15/7, 6), hot = keys with cnt*3 > 14 ->
    only user 1. type 'b': {4:2, 5:2} -> ratio 1.0, no hot keys, top
    user 4 (tie broken to the smaller id)."""
    rows = []
    eid = 1
    for uid, et, n in [(1, "a", 5), (2, "a", 1), (3, "a", 1), (4, "b", 2), (5, "b", 2)]:
        for _ in range(n):
            rows.append((eid, _t(eid), uid, et, 1.0))
            eid += 1
    _write_events(spark, tmp_path, rows)
    out = {
        r.event_type: r
        for r in RELATIONAL.q_key_skew_profile(spark, str(tmp_path)).collect()
    }
    a = out["a"]
    assert (a.n_keys, a.n_rows, a.max_rows, a.top_user_id, a.n_hot_keys) == (
        3, 7, 5, 1, 1,
    )
    assert a.skew_ratio == round(15 / 7, 6)
    b = out["b"]
    assert (b.n_keys, b.n_rows, b.max_rows, b.top_user_id, b.n_hot_keys) == (
        2, 4, 2, 4, 0,
    )
    assert b.skew_ratio == 1.0


# --- containment_pairs ------------------------------------------------------


def test_containment_detects_subset_duplication(spark, tmp_path):
    """Anchor doc 5's 10 words all appear inside doc 7's 40 ->
    containment 1.0 while Jaccard 10/40 = 0.25 stays far below any
    dedup threshold — the case Jaccard-only pipelines miss. Unrelated
    doc 6 stays under the report threshold."""
    _write_docs(
        spark,
        tmp_path,
        [
            (5, " ".join(_W[:10])),
            (6, "totally different words here now"),
            (7, " ".join(_W)),
        ],
    )
    rows = {
        (r.id_a, r.id_b): (r.containment, r.jaccard)
        for r in DEDUP.q_containment_pairs(spark, str(tmp_path)).collect()
    }
    assert set(rows) == {(5, 7)}
    c, j = rows[(5, 7)]
    assert c == 1.0
    assert j == pytest.approx(10 / 40)


def test_incremental_candidates_consistent_with_self_join(spark):
    """Consistency law between the two LSH forms (seeded random word
    soups, 3 trials): with the hot-bucket guard off, the incremental
    batch->corpus candidates must be EXACTLY the cross-side subset of
    the self-join candidates over the union — the incremental
    operator changes the join topology, never the candidate set."""
    import random

    for seed in (1, 2, 3):
        rng = random.Random(seed)
        vocab = [f"v{i}" for i in range(25)]
        docs = []
        for i in range(1, 31):
            k = rng.randrange(len(vocab) - 8)
            words = vocab[k : k + 5 + rng.randrange(4)]
            if rng.random() < 0.3:
                rng.shuffle(words)
            docs.append((i, " ".join(words)))
        d = spark.createDataFrame(docs, "doc_id long, text string")
        new_df = d.filter(F.col("doc_id") % 3 == 0)
        corp_df = d.filter(F.col("doc_id") % 3 != 0)
        inc = {
            (r.new_id, r.corpus_id)
            for r in DD.incremental_lsh_candidates(
                new_df, corp_df, num_hashes=8, rows_per_band=2, max_df=None
            ).collect()
        }
        full = {
            (r.id_a, r.id_b)
            for r in DD.minhash_lsh_candidates(
                d, num_hashes=8, rows_per_band=2, max_df=None
            ).collect()
        }
        cross = {
            (a, b) if a % 3 == 0 else (b, a)
            for (a, b) in full
            if (a % 3 == 0) != (b % 3 == 0)
        }
        assert inc == cross, f"seed {seed}: {inc ^ cross}"


def test_simhash_recall_law_random_trials(spark):
    """Seeded-random recall-law trials (3 seeds × 25 docs): banded
    pairs == all pairs at Hamming <= 3, fingerprints recomputed in
    plain Python from the operator's own signature columns."""
    import random

    for seed in (11, 12, 13):
        rng = random.Random(seed)
        vocab = [f"t{i}" for i in range(40)]
        docs = []
        for i in range(1, 26):
            k = rng.randrange(30)
            docs.append((i, " ".join(vocab[k : k + 6 + rng.randrange(5)])))
        d = spark.createDataFrame(docs, "doc_id long, text string")
        sigs = {
            r.doc_id: (r.s0, r.s1)
            for r in d.select(
                "doc_id",
                DD.simhash_bits("text", 32, DD.SIMHASH_SALTS[0])
                .cast("long").alias("s0"),
                DD.simhash_bits("text", 32, DD.SIMHASH_SALTS[1])
                .cast("long").alias("s1"),
            ).collect()
        }
        ids = sorted(sigs)
        ham = lambda a, b: (
            bin(sigs[a][0] ^ sigs[b][0]).count("1")
            + bin(sigs[a][1] ^ sigs[b][1]).count("1")
        )
        expect = {
            (a, b, ham(a, b))
            for i, a in enumerate(ids)
            for b in ids[i + 1 :]
            if ham(a, b) <= 3
        }
        got = {
            (r.id_a, r.id_b, r.hamming)
            for r in DD.simhash_hamming_pairs(d).collect()
        }
        assert got == expect, f"seed {seed}"


def test_dedup_keep_best_planted_policy(spark, tmp_path):
    """Three word-set-identical variants of different lengths: the
    LONGEST wins canonical (not the min id); an unrelated doc is its
    own singleton canonical."""
    _write_docs(
        spark,
        tmp_path,
        [
            (10, "a b c"),  # 5 chars
            (20, "c b a a b"),  # 9 chars -> keeper
            (30, "b a c"),  # 5 chars, larger id than 10
            (40, "something else entirely"),
        ],
    )
    out = {
        r.doc_id: (r.canonical_id, r.group_size, r.is_kept)
        for r in DEDUP.q_dedup_keep_best(spark, str(tmp_path)).collect()
    }
    assert out[20] == (20, 3, True)
    assert out[10] == (20, 3, False)
    assert out[30] == (20, 3, False)
    assert out[40] == (40, 1, True)


def test_dedup_keep_best_ties_to_smaller_id(spark, tmp_path):
    """Equal-length variants tie-break to the smaller doc_id."""
    _write_docs(spark, tmp_path, [(7, "a b c"), (3, "c a b"), (9, "b c a")])
    out = {
        r.doc_id: r.canonical_id
        for r in DEDUP.q_dedup_keep_best(spark, str(tmp_path)).collect()
    }
    assert out == {3: 3, 7: 3, 9: 3}


def test_simhash_pairs_match_brute_force(spark, tmp_path):
    """Recall law (pigeonhole): the block-banded join must return
    EXACTLY the pairs at Hamming distance <= max_hamming — compare
    against a pure-Python popcount over the operator's own collected
    signatures. Includes planted identical docs (distance 0)."""
    rng_words = [f"w{i}" for i in range(30)]
    docs = [(1, " ".join(rng_words[:20])), (2, " ".join(rng_words[:20]))]
    # sliding-window vocab drift: neighbours are similar, far ids are not
    for i in range(3, 23):
        docs.append((i, " ".join(rng_words[i % 10 : i % 10 + 15])))
    _write_docs(spark, tmp_path, docs)
    d = spark.read.parquet(f"{tmp_path}/documents.parquet")
    sigs = {
        r.doc_id: (r.sh0, r.sh1)
        for r in d.select(
            "doc_id",
            DD.simhash_bits("text", 32, DD.SIMHASH_SALTS[0]).cast("long").alias("sh0"),
            DD.simhash_bits("text", 32, DD.SIMHASH_SALTS[1]).cast("long").alias("sh1"),
        ).collect()
    }
    ids = sorted(sigs)
    ham = lambda a, b: (
        bin(sigs[a][0] ^ sigs[b][0]).count("1")
        + bin(sigs[a][1] ^ sigs[b][1]).count("1")
    )
    expect = {
        (a, b, ham(a, b))
        for i, a in enumerate(ids)
        for b in ids[i + 1 :]
        if ham(a, b) <= 3
    }
    got = {
        (r.id_a, r.id_b, r.hamming)
        for r in DD.simhash_hamming_pairs(d, max_hamming=3).collect()
    }
    assert got == expect
    assert (1, 2, 0) in got  # the planted identical pair


def test_simhash_pairs_rejects_weak_banding(spark):
    """max_hamming >= n_bands would break the pigeonhole recall
    guarantee — the operator must refuse it."""
    d = spark.createDataFrame([(1, "a b c")], "doc_id long, text string")
    with pytest.raises(ValueError):
        DD.simhash_hamming_pairs(d, n_bands=4, max_hamming=4)


def test_compaction_preserves_mor_view(spark, tmp_path):
    """The compaction LAW tying batch 27 together: EXECUTING the plan
    — per flagged bucket, the bucket's MoR resolution becomes its new
    base file and its log drains; unflagged buckets keep their old
    base+log split — must leave the resolved read view bit-identical.
    The compacted layout is actually rebuilt here (new base rows ∪
    untouched buckets' base/log) and re-resolved with the same
    latest-(ts,event_id) rule the read path uses."""
    import random

    from pyspark.sql import Window

    from wq_data_pipeline_spark.plans import lakehouse as LAKEHOUSE

    rng = random.Random(777)
    rows = []
    for eid in range(1, 401):
        k = rng.randrange(30)
        rows.append(
            (eid, _t(rng.randrange(0, 5000)), k, f"t{k % 3}",
             round(rng.uniform(-9, 9), 2))
        )
    _write_events(spark, tmp_path, rows)
    sf = str(tmp_path)

    plan = {r.bucket for r in LAKEHOUSE.q_compaction_plan(spark, sf).collect()
            if r.needs_compaction}
    assert plan, "seeded stream must flag at least one bucket"

    r = LAKEHOUSE._records(spark, sf)
    latest = LAKEHOUSE._latest(LAKEHOUSE._KEY)
    flagged = (F.col("user_id") % 32).isin(*sorted(plan))

    # physical pieces of the PRE-compaction layout
    old_base = (
        r.filter(F.col("ts_us") <= F.col("_cut_us"))
        .withColumn("_rn", F.row_number().over(latest))
        .filter((F.col("_rn") == 1) & (F.col("op") == "U"))
        .select(*LAKEHOUSE._KEY, "ts_us", "event_id", "value", "op")
    )
    old_log = r.filter(F.col("ts_us") > F.col("_cut_us")).select(
        *LAKEHOUSE._KEY, "ts_us", "event_id", "value", "op"
    )

    def resolve(base, log):
        m = base.unionByName(log)
        return (
            m.withColumn("_rn", F.row_number().over(latest))
            .filter((F.col("_rn") == 1) & (F.col("op") == "U"))
            .select(*LAKEHOUSE._KEY, "ts_us", "value")
        )

    before = resolve(old_base, old_log)

    # EXECUTE the plan: flagged buckets' new base = their resolved
    # view (what the compactor writes); their log rows are gone
    new_base_flagged = resolve(
        old_base.filter(flagged), old_log.filter(flagged)
    ).select(*LAKEHOUSE._KEY, "ts_us", F.lit(0).cast("long").alias("event_id"),
             "value", F.lit("U").alias("op"))
    compacted_base = old_base.filter(~flagged).unionByName(new_base_flagged)
    compacted_log = old_log.filter(~flagged)

    after = resolve(compacted_base, compacted_log)

    view = lambda df: {
        (x.user_id, x.event_type): (x.ts_us, x.value) for x in df.collect()
    }
    assert view(after) == view(before)


def test_ivm_matches_brute_force_direct_agg(spark, tmp_path):
    """The IVM law on a seeded random change stream: the maintained
    aggregate (lo matview + change deltas) must equal a pure-Python
    direct aggregation of the resolved view at hi — including
    delete/re-insert keys and no-op keys the delta table must skip."""
    import random

    rng = random.Random(31337)
    rows = []
    for eid in range(1, 401):
        k = rng.randrange(30)
        rows.append(
            (eid, _t(rng.randrange(0, 5000)), k, f"t{k % 4}",
             round(rng.uniform(-50, 50), 2))
        )
    _write_events(spark, tmp_path, rows)

    us = [int(r[1].timestamp() * 1_000_000) for r in rows]
    t0, t1 = min(us), max(us)
    hi = t0 + (t1 - t0) * 7 // 10
    by_key: dict = {}
    for (eid, _ts, uid, et, val), u in zip(rows, us):
        if u <= hi:
            by_key.setdefault((uid, et), []).append(
                (u, eid, val, "D" if eid % 5 == 0 else "U")
            )
    expect: dict = {}
    for (uid, et), recs in by_key.items():
        win = max(recs)
        if win[3] == "U":
            n, s = expect.get(et, (0, 0))
            expect[et] = (n + 1, s + round(win[2] * 100))
    got = {
        r.event_type: (r.n_keys, r.sum_cents)
        for r in LAKEHOUSE.q_incremental_agg_maintenance(spark, str(tmp_path)).collect()
    }
    assert got == expect
    assert expect


def test_ivm_handles_delete_and_reinsert(spark, tmp_path):
    """Targeted delta cases on a hand-built stream (span 0..100 min,
    lo = +40, hi = +70): update inside the window (dn 0, dsum
    post−pre), delete of a live key (−1, −pre), insert of a
    never-seen key (+1, +post), delete→re-insert across lo, and a
    no-op key (absent at lo, deleted in window)."""
    rows = [
        # A: live at lo (v 10.00), updated to 12.50 in window
        (1, _t(0), 1, "a", 10.0),
        (6, _t(50), 1, "a", 12.5),
        # B: live at lo (v 3.00), deleted in window (id%5==0)
        (2, _t(10), 2, "a", 3.0),
        (10, _t(60), 2, "a", 0.0),
        # C: never seen before, inserted in window (v 7.25)
        (3, _t(55), 3, "a", 7.25),
        # D: deleted BEFORE lo (winner at lo is D), re-inserted in window
        (5, _t(20), 4, "a", 1.0),  # id 5 -> D marker
        (7, _t(65), 4, "a", 2.0),
        # E: absent at lo, deleted in window -> net no-op
        (15, _t(45), 5, "a", 9.9),  # id 15 -> D marker
        # span stretcher (other group, after hi)
        (4, _t(100), 9, "z", 1.0),
    ]
    _write_events(spark, tmp_path, rows)
    got = {
        r.event_type: (r.n_keys, r.sum_cents)
        for r in LAKEHOUSE.q_incremental_agg_maintenance(spark, str(tmp_path)).collect()
    }
    # at hi: A=12.50, C=7.25, D=2.00 live; B deleted; E never lived
    assert got["a"] == (3, 1250 + 725 + 200)
    assert "z" not in got or got["z"] == (0, 0)  # z's insert is after hi


def test_vacuum_plan_hand_computed(spark, tmp_path):
    """Span 0..100 min -> horizon at +70. Key A's t0 and t50 records
    are superseded by its t60 winner (2 vacuumable, one of them a
    tombstone); the t60 winner stays; B's horizon winner is a
    tombstone and stays; records after the horizon always stay."""
    rows = [
        # key A (user 1): t0 U, t50 D (id 10), t60 U winner, t80 U (post)
        (1, _t(0), 1, "a", 1.0),
        (10, _t(50), 1, "a", 2.0),
        (6, _t(60), 1, "a", 3.0),
        (7, _t(80), 1, "a", 4.0),
        # key B (user 2): t10 U superseded, t65 D winner (tombstone kept)
        (2, _t(10), 2, "a", 5.0),
        (15, _t(65), 2, "a", 6.0),
        # span stretcher (user 33 -> bucket 1, same as user 1)
        (3, _t(100), 33, "z", 7.0),
    ]
    _write_events(spark, tmp_path, rows)
    out = {
        r.bucket: (r.n_records, r.n_vacuumable, r.n_tombstones_vacuumable)
        for r in LAKEHOUSE.q_vacuum_plan(spark, str(tmp_path)).collect()
    }
    # bucket 1 = users 1 and 33: 5 records; A's t0 (U) and t50 (D)
    # vacuumable; A's t60 winner, t80 post-horizon, 33's t100 stay
    assert out[1] == (5, 2, 1)
    # bucket 2 = user 2: t10 vacuumable, t65 tombstone winner stays
    assert out[2] == (2, 1, 0)


def test_containment_operator_matches_python_sets(spark):
    """containment_pairs agrees with plain Python set arithmetic on
    arbitrary word bags (duplicates collapse to the distinct set)."""
    docs = [
        (1, "a b c a"),
        (2, "b c d"),
        (3, "a a a"),
    ]
    d = spark.createDataFrame(docs, "doc_id long, text string")
    pairs = spark.createDataFrame(
        [(1, 2), (3, 1), (2, 3)], "id_a long, id_b long"
    )
    got = {
        (r.id_a, r.id_b): (r.containment, r.jaccard)
        for r in DD.containment_pairs(d, pairs).collect()
    }
    sets = {1: {"a", "b", "c"}, 2: {"b", "c", "d"}, 3: {"a"}}
    for (ia, ib), (c, j) in got.items():
        inter = len(sets[ia] & sets[ib])
        assert c == pytest.approx(inter / len(sets[ia]))
        assert j == pytest.approx(inter / len(sets[ia] | sets[ib]))
    assert set(got) == {(1, 2), (3, 1), (2, 3)}
