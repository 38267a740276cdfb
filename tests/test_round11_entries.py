"""Entry pins: hybrid_rrf (similarity), quality_train_bigram (corpus)
and the trainer stash.

What the DuckDB oracle can't pin: that the fused RRF ranking equals an
independent from-scratch BM25+cosine+RRF replication (the oracle
replays the same plan shape, so it would agree even on a shared
formula bug), that the bigram featurizer SEPARATES where the unigram
model provably cannot (the hash-aliasing fixture — both models'
oracles are self-consistent, only an adversarial fixture shows the
capability), and that the session trainer stash serves every
classifier-family entry from ONE build without ever serving stale
weights after an in-place fixture overwrite.
"""

from __future__ import annotations

import math

import pytest

from tests.replicas import (
    _py_bucket,
    _py_cos,
    _py_quant,
    _py_tokens,
    _round_half_away,
    _write_docs,
    _write_embs,
)
from wq_data_pipeline_spark.plans import corpus as CORPUS
from wq_data_pipeline_spark.plans import similarity as SIMILARITY

# ---------------------------------------------------------------- hybrid_rrf


def _py_bm25(docs, terms, k1, b, topn):
    """From-scratch BM25 replication (integer-micro per-term sums).
    docs: list of (doc_id, text). Returns {doc_id: rank}."""
    tokd = {i: _py_tokens(t or "") for i, t in docs}
    n = len(docs)
    avgdl = sum(len(v) for v in tokd.values()) / n
    dfc = {
        term: sum(1 for v in tokd.values() if term in v) for term in terms
    }
    scores = {}
    for i, toks in tokd.items():
        m = 0
        hit = False
        for term in terms:
            tf = toks.count(term)
            if tf == 0:
                continue
            hit = True
            idf = math.log((n - dfc[term] + 0.5) / (dfc[term] + 0.5) + 1.0)
            s = idf * (tf * (k1 + 1.0)) / (
                tf + k1 * (1.0 - b + b * len(toks) / avgdl)
            )
            m += _round_half_away(s * 1_000_000.0)
        if hit:
            scores[i] = m / 1e6
    ranked = sorted(scores.items(), key=lambda kv: (-kv[1], kv[0]))[:topn]
    return {doc: r + 1 for r, (doc, _) in enumerate(ranked)}


def _py_hybrid(docs, embs):
    """Full RRF replication: BM25 list, cosine list vs the BM25
    rank-1 anchor's embedding, integer-micro fusion. embs: {id: vec}.
    Returns {doc_id: (bm25_rank, vec_rank, rrf_micro, fused_rank)}."""
    from wq_data_pipeline_spark.plans.similarity import (
        _BM25_B,
        _BM25_K1,
        _BM25_TERMS,
        _BM25_TOPN,
    )

    bm = _py_bm25(docs, _BM25_TERMS, _BM25_K1, _BM25_B, _BM25_TOPN)
    anchor = next((d for d, r in bm.items() if r == 1), None)
    vr = {}
    if anchor is not None and anchor in embs:
        qq = _py_quant(embs[anchor])
        cos = {
            i: _py_cos(_py_quant(v), qq)
            for i, v in embs.items()
            if i != anchor
        }
        ranked = sorted(cos.items(), key=lambda kv: (-kv[1], kv[0]))
        vr = {doc: r + 1 for r, (doc, _) in enumerate(ranked[: SIMILARITY._RRF_TOPN])}
    fused = {}
    for d in set(bm) | set(vr):
        m = sum(
            _round_half_away(1_000_000.0 / (SIMILARITY._RRF_K + r))
            for r in (bm.get(d), vr.get(d))
            if r is not None
        )
        fused[d] = m
    out = {}
    ranked = sorted(fused.items(), key=lambda kv: (-kv[1], kv[0]))
    for fr, (d, m) in enumerate(ranked[: SIMILARITY._RRF_TOPN]):
        out[d] = (bm.get(d), vr.get(d), m, fr + 1)
    return out


def test_hybrid_rrf_matches_python_replication(spark, tmp_path):
    """Planted corpus with controlled term counts and embeddings:
    the engine's fused list equals the from-scratch replication row
    for row — ranks, micro scores, and NULL-rank sides included."""
    rows = [
        (0, "hash join filter hash join scan", "en", "s0"),
        (1, "hash filter merge sort scan agg", "en", "s0"),
        (2, "join join join group window sort", "en", "s1"),
        (3, "no query terms at all here now", "en", "s1"),
        (4, "hash hash hash hash filter join", "en", "s2"),
        (5, "filter scan merge group agg window", "en", "s2"),
        (6, "totally unrelated text content words", "en", "s0"),
        (7, "hash join scan scan scan scan scan", "en", "s1"),
    ]
    # embeddings: ids 0..7, 4-dim. The parquet column is float32, so
    # round-trip every value through float32 BEFORE both the writer
    # and the replication — _py_quant's contract is float32-as-double
    # input, and skipping the round-trip leaves the pin one
    # fixture-constant edit away from a 1-micro quantization flake
    # (r11 review)
    import numpy as np

    embs = {
        i: [
            float(np.float32(x))
            for x in (
                float(i % 3) + 0.25,
                1.0 - 0.1 * i,
                0.5 * (i % 2),
                0.3 + 0.05 * i,
            )
        ]
        for i in range(8)
    }
    _write_docs(spark, tmp_path, rows)
    _write_embs(
        spark, tmp_path, [(i, [float(x) for x in v], 0) for i, v in embs.items()]
    )
    got = {
        r["doc_id"]: (
            r["bm25_rank"],
            r["vec_rank"],
            r["rrf_micro"],
            r["fused_rank"],
        )
        for r in SIMILARITY.q_hybrid_rrf(spark, str(tmp_path)).collect()
    }
    exp = _py_hybrid([(i, t) for i, t, _, _ in rows], embs)
    assert got == exp, (got, exp)


def test_hybrid_rrf_no_text_hits_is_empty_and_oracle_green(spark, tmp_path):
    """Corpus with zero query-term matches: BM25 list empty -> no
    anchor -> fused list empty, and the oracle agrees on the shape."""
    from tests.oracle_utils import compare

    rows = [
        (0, "nothing matching the fixed terms", "en", "s0"),
        (1, "more plain words without hits", "en", "s1"),
    ]
    _write_docs(spark, tmp_path, rows)
    _write_embs(spark, tmp_path, [(0, [1.0, 0.0], 0), (1, [0.5, 0.5], 0)])
    assert SIMILARITY.q_hybrid_rrf(spark, str(tmp_path)).count() == 0
    ok, msg = compare(
        SIMILARITY.q_hybrid_rrf(spark, str(tmp_path)),
        SIMILARITY.SQL_HYBRID_RRF,
        str(tmp_path),
    )
    assert ok, msg


def test_hybrid_rrf_anchor_without_embedding_degrades_to_bm25(
    spark, tmp_path
):
    """If the anchor doc has no embedding row, the vector list is
    empty and the fused list is the BM25 list alone (vec_rank all
    NULL) — oracle-green on the same fixture."""
    from tests.oracle_utils import compare

    rows = [
        (0, "hash join filter hash", "en", "s0"),
        (1, "hash filter scan", "en", "s0"),
        (2, "plain words here", "en", "s1"),
    ]
    _write_docs(spark, tmp_path, rows)
    # embeddings exist only for doc 2, which can never be the anchor
    _write_embs(spark, tmp_path, [(2, [1.0, 0.5], 0)])
    got = SIMILARITY.q_hybrid_rrf(spark, str(tmp_path)).collect()
    assert len(got) == 2  # docs 0 and 1 carry BM25 hits
    assert all(r["vec_rank"] is None for r in got)
    ok, msg = compare(
        SIMILARITY.q_hybrid_rrf(spark, str(tmp_path)),
        SIMILARITY.SQL_HYBRID_RRF,
        str(tmp_path),
    )
    assert ok, msg


def test_hybrid_rrf_refuses_ragged_or_null_embeddings(spark, tmp_path):
    """Ragged widths and NULL vectors fail loudly (the
    embed_decontaminate guard): Spark's zip_with pads/propagates
    NULLs where DuckDB's list_sum skips them — a silent ranking
    divergence if allowed through."""
    rows = [
        (0, "hash join filter", "en", "s0"),
        (1, "hash filter scan", "en", "s0"),
    ]
    _write_docs(spark, tmp_path, rows)
    _write_embs(spark, tmp_path, [(0, [1.0, 0.5], 0), (1, [1.0, 0.5, 0.25], 0)])
    with pytest.raises(ValueError, match="uniform embedding width"):
        SIMILARITY.q_hybrid_rrf(spark, str(tmp_path))
    _write_embs(spark, tmp_path, [(0, [1.0, 0.5], 0), (1, None, 0)])
    with pytest.raises(ValueError, match="NULL embedding"):
        SIMILARITY.q_hybrid_rrf(spark, str(tmp_path))


def test_embed_decontaminate_refuses_null_embeddings(spark, tmp_path):
    """The r10 width guard now also refuses NULL vectors — F.size(NULL)
    is NULL and slips past a min/max-only check (r11 review)."""
    _write_docs(spark, tmp_path, [(0, "words here", "en", "s0")])
    _write_embs(spark, tmp_path, [(0, [1.0, 0.5], 0), (7, None, 0)])
    with pytest.raises(ValueError, match="NULL embedding"):
        SIMILARITY.q_embed_decontaminate(spark, str(tmp_path))


def test_hybrid_rrf_real_fixture_properties(spark, sf_dir):
    """On the real fixture: fused ranks are contiguous from 1, every
    row sits in at least one source list, and rrf_micro is exactly
    recomputable from the emitted rank columns."""
    rows = SIMILARITY.q_hybrid_rrf(spark, sf_dir).collect()
    assert 1 <= len(rows) <= SIMILARITY._RRF_TOPN
    ranks = sorted(r["fused_rank"] for r in rows)
    assert ranks == list(range(1, len(rows) + 1))
    for r in rows:
        assert r["bm25_rank"] is not None or r["vec_rank"] is not None
        exp = sum(
            _round_half_away(1_000_000.0 / (SIMILARITY._RRF_K + rr))
            for rr in (r["bm25_rank"], r["vec_rank"])
            if rr is not None
        )
        assert r["rrf_micro"] == exp, r


# ------------------------------------------------------- quality_train_bigram


def _py_bg_features(toks):
    """Mirror of _bg_bucket_counts for one doc: unigram buckets
    0..63, bigram buckets 64..127."""
    feats = {}
    for tok in toks:
        b = _py_bucket(tok)
        feats[b] = feats.get(b, 0) + 1
    for i in range(len(toks) - 1):
        b = CORPUS._QT_B + _py_bucket(f"{toks[i]} {toks[i + 1]}")
        feats[b] = feats.get(b, 0) + 1
    return feats


def _py_train_bg(docs):
    """From-scratch replication of the bigram-featured trainer."""
    bl = set(CORPUS._BLOCKLIST)
    x, y = {}, {}
    for i, t in docs:
        if i % CORPUS._QT_HOLD_MOD == CORPUS._QT_HOLD_RES:
            continue
        toks = _py_tokens(t or "")
        if not toks:
            continue
        y[i] = 0 if any(tok in bl for tok in toks) else 1
        x[i] = _py_bg_features(toks)
    n = len(x)
    w = [0] * CORPUS._BG_NB
    for _ in range(CORPUS._QT_ROUNDS):
        g = [0] * CORPUS._BG_NB
        for i, feats in x.items():
            z = sum(c * w[b] for b, c in feats.items())
            p = 1.0 / (1.0 + math.exp(-(z / 1_000_000.0)))
            e = _round_half_away((p - y[i]) * 1_000_000.0)
            for b, c in feats.items():
                g[b] += c * e
        w = [
            w[b] - _round_half_away(CORPUS._QT_LR * g[b] / n)
            for b in range(CORPUS._BG_NB)
        ]
    return w


def _py_eval_bg(docs, w):
    """_py_eval with the bigram featurizer (same confusion/AUC rules)."""
    bl = set(CORPUS._BLOCKLIST)
    scored = []
    for i, t in docs:
        if i % CORPUS._QT_HOLD_MOD != CORPUS._QT_HOLD_RES:
            continue
        toks = _py_tokens(t or "")
        if not toks:
            continue
        yv = 0 if any(tok in bl for tok in toks) else 1
        z = sum(c * w[b] for b, c in _py_bg_features(toks).items())
        scored.append((z, yv))
    # reuse the r10 midrank/confusion math by faking a unigram doc set
    # is not possible (different featurizer), so inline the same rules
    n = len(scored)
    n_pos = sum(yv for _, yv in scored)
    n_neg = n - n_pos
    tp = sum(1 for z, yv in scored if yv == 1 and z > 0)
    tn = sum(1 for z, yv in scored if yv == 0 and z <= 0)
    auc = None
    if n_pos and n_neg:
        scored.sort(key=lambda t: t[0])
        ranks, i = {}, 0
        while i < len(scored):
            j = i
            while j < len(scored) and scored[j][0] == scored[i][0]:
                j += 1
            for k in range(i, j):
                ranks[k] = (i + 1 + j) / 2.0
            i = j
        r_pos = sum(ranks[k] for k, (_, yv) in enumerate(scored) if yv == 1)
        auc = round((r_pos - n_pos * (n_pos + 1) / 2.0) / (n_pos * n_neg), 6)
    return {"n_docs": n, "n_pos": n_pos, "tp": tp, "tn": tn, "auc": auc}


def test_quality_train_bigram_matches_python_replication(spark, tmp_path):
    """Planted corpus: the bigram entry's held-out report equals the
    from-scratch bigram trainer + eval, integer for integer."""
    rows = [
        (0, "fast clean table scan query join merge sort", "en", "s0"),
        (1, "slow broken table scan error query join merge", "en", "s0"),
        (2, "value window agg group fast data column row", "en", "s1"),
        (3, "error slow batch stream broken pipeline fail", "en", "s1"),
        (4, "slow error held out doc for the gate", "en", "s2"),
        (5, "clean content merge window sort filter scan", "en", "s2"),
        (6, "slow query error window batch row column", "en", "s0"),
        (7, "good text fast join scan filter group agg", "en", "s1"),
        (9, "held out clean fast merge doc here", "en", "s0"),
        (14, "held out slow error doc here too", "en", "s0"),
        (19, "another clean held out doc words", "en", "s1"),
    ]
    _write_docs(spark, tmp_path, rows)
    got = CORPUS.q_quality_train_bigram(spark, str(tmp_path)).collect()[0]
    w = _py_train_bg([(i, t) for i, t, _, _ in rows])
    exp = _py_eval_bg([(i, t) for i, t, _, _ in rows], w)
    for k in ("n_docs", "n_pos", "tp", "tn"):
        assert got[k] == exp[k], (k, got.asDict(), exp)
    assert got["auc"] == pytest.approx(exp["auc"], abs=1e-6)


def test_bigram_separates_where_unigram_cannot(spark, tmp_path):
    """The capability pin: 'tok38' hash-collides with the blocklisted
    'slow' in the 64-bucket unigram space (_py_bucket agrees), and the
    context tokens are identical across classes — so the unigram
    model's features are CLASS-IDENTICAL (held-out AUC exactly 0.5,
    one score group) while the bigram model separates on the distinct
    'slow alpha' / 'tok38 alpha' bigrams (held-out AUC 1.0)."""
    assert _py_bucket("tok38") == _py_bucket("slow")
    rows = []
    for i in range(40):
        lead = "slow" if i % 2 == 0 else "tok38"
        rows.append((i, f"{lead} alpha beta gamma", "en", "s0"))
    _write_docs(spark, tmp_path, rows)
    uni = CORPUS.q_quality_train_eval(spark, str(tmp_path)).collect()[0]
    bi = CORPUS.q_quality_train_bigram(spark, str(tmp_path)).collect()[0]
    assert uni["auc"] == pytest.approx(0.5, abs=1e-9)
    assert bi["auc"] == pytest.approx(1.0, abs=1e-9)
    assert bi["tp"] + bi["tn"] == bi["n_docs"]  # perfect held-out gate


def test_bigram_oracle_green_on_aliasing_fixture(spark, tmp_path):
    """The adversarial fixture stays oracle-green too (bucket
    aliasing and the two-group AUC path exercise the SQL mirror)."""
    from tests.oracle_utils import compare

    rows = []
    for i in range(20):
        lead = "slow" if i % 2 == 0 else "tok38"
        rows.append((i, f"{lead} alpha beta gamma", "en", "s0"))
    _write_docs(spark, tmp_path, rows)
    ok, msg = compare(
        CORPUS.q_quality_train_bigram(spark, str(tmp_path)),
        CORPUS.SQL_QUALITY_TRAIN_BIGRAM,
        str(tmp_path),
    )
    assert ok, msg


def test_bigram_real_fixture_auc_band(spark, sf_dir):
    """On the real fixture the bigram model holds the unigram
    family's signal band (the blocklist teacher is unigram-shaped, so
    parity — not collapse — is the correct expectation; measured r11:
    uni/bi AUC 0.837/0.843 at sf0.001, 0.775/0.778 at sf0.01,
    0.802/0.800 at sf0.1)."""
    bi = CORPUS.q_quality_train_bigram(spark, sf_dir).collect()[0]
    uni = CORPUS.q_quality_train_eval(spark, sf_dir).collect()[0]
    assert bi["auc"] is not None and bi["auc"] > 0.7
    assert abs(bi["auc"] - uni["auc"]) < 0.05


# ------------------------------------------------------------- trainer stash


def test_trainer_stash_one_build_per_family(spark, tmp_path, monkeypatch):
    """quality_train + _apply + _eval share ONE trainer build per
    (session, fixture); the bigram variant builds its own (different
    featurizer tag) and is then served from the stash too."""
    calls = []
    orig = CORPUS._train_traj_build

    def counting(*a, **k):
        calls.append(1)
        return orig(*a, **k)

    monkeypatch.setattr(CORPUS, "_train_traj_build", counting)
    rows = [
        (0, "fast clean words here", "en", "s0"),
        (1, "slow error words there", "en", "s0"),
        (4, "held out doc words", "en", "s1"),
    ]
    _write_docs(spark, tmp_path, rows)
    p = str(tmp_path)
    CORPUS.q_quality_train(spark, p).collect()
    CORPUS.q_quality_train_apply(spark, p).collect()
    CORPUS.q_quality_train_eval(spark, p).collect()
    assert len(calls) == 1
    CORPUS.q_quality_train_bigram(spark, p).collect()
    assert len(calls) == 2
    CORPUS.q_quality_train_bigram(spark, p).collect()
    assert len(calls) == 2
    # the stash key derives from the featurizer actually passed, so a
    # direct bigram call on the unigram-trained path can never be
    # served 64-bucket weights (r11 review)
    traj = CORPUS._train_traj(
        spark, p, feats=CORPUS._bg_bucket_counts, n_buckets=CORPUS._BG_NB
    )
    assert traj[-1].count() == CORPUS._BG_NB
    assert len(calls) == 2  # and it WAS the stashed bigram build


def test_trainer_stash_invalidates_on_fixture_overwrite(
    spark, tmp_path, monkeypatch
):
    """Overwriting the SAME path retrains (content-token key): the
    weights reflect the new corpus, never the stashed one — the
    degenerate-edge tests' retrain-in-place pattern stays sound."""
    rows_a = [
        (0, "fast clean words", "en", "s0"),
        (1, "slow error words", "en", "s0"),
    ]
    _write_docs(spark, tmp_path, rows_a)
    p = str(tmp_path)
    w_a = {
        r["b"]: r["w_micro_r3"]
        for r in CORPUS.q_quality_train(spark, p).collect()
    }
    # new corpus at the same path: all-clean docs -> different weights
    rows_b = [
        (0, "fast clean words", "en", "s0"),
        (1, "more clean words", "en", "s0"),
        (2, "slow slow slow slow slow", "en", "s0"),
    ]
    _write_docs(spark, tmp_path, rows_b)
    w_b = {
        r["b"]: r["w_micro_r3"]
        for r in CORPUS.q_quality_train(spark, p).collect()
    }
    assert w_a != w_b
    from tests.replicas import _py_train

    traj = _py_train([(i, t) for i, t, _, _ in rows_b])
    assert w_b == {b: traj[-1][b] for b in range(CORPUS._QT_B)}
