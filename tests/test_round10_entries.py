"""Entry pins: embed_decontaminate (similarity), para_dedup (dedup) and
the quality_train family (corpus).

Pure-Python replications + planted fixtures pin what the DuckDB oracle
can't: that the LSH candidate stage actually CATCHES planted
contamination / copied blocks (the oracle replays the same planes, so
it would agree even on a recall-zero bug), that the trainer's integer
discipline reproduces an independent from-scratch implementation, and
that the learned weights carry real signal (held-out AUC).
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from tests.replicas import (
    _py_band_sigs,
    _py_bucket,
    _py_cos,
    _py_quant,
    _py_tokens,
    _py_train,
    _write_docs,
    _write_embs,
)
from wq_data_pipeline_spark.plans import corpus as CORPUS
from wq_data_pipeline_spark.plans import dedup as DEDUP
from wq_data_pipeline_spark.plans import similarity as SIMILARITY
from wq_data_pipeline_spark.plans.queries import ORACLES, QUERIES

# ---------------------------------------------------- embed_decontaminate


def test_fixture_vec_doc_alignment(spark, sf_dir):
    """The entry's documented contract: embeddings.vec_id IS a doc_id
    of the documents table (1:1 on the fixtures)."""
    from wq_data_pipeline_spark.sources.testdata import load_table

    e = load_table(spark, sf_dir, "embeddings").select("vec_id")
    d = load_table(spark, sf_dir, "documents").select("doc_id")
    n_e = e.count()
    assert e.join(d, e.vec_id == d.doc_id).count() == n_e


def test_embed_decontaminate_planted_full_replication(spark, tmp_path):
    """Planted corpus: vec 1 is a near-copy of benchmark vec 7 (cos ~1
    — MUST be caught: candidate probability -> 1 as cos -> 1), the
    rest near-orthogonal. The engine report must equal a complete
    pure-Python replication (planes, signatures, candidate join,
    cosines, rollup)."""
    dim = 8
    base = [
        (1, [1.0, 0.2, 0.1, 0.0, 0.0, 0.1, 0.0, 0.05], "s0"),  # ~ vec 7
        (2, [0.0, 1.0, 0.0, 0.0, 0.1, 0.0, 0.0, 0.0], "s0"),
        (3, [0.0, 0.0, 1.0, 0.0, 0.0, 0.1, 0.0, 0.0], "s1"),
        (4, [0.0, 0.0, 0.0, 1.0, 0.0, 0.0, 0.1, 0.0], "s1"),
        (7, [0.99, 0.21, 0.1, 0.0, 0.0, 0.1, 0.0, 0.04], "bench"),  # bench
        (17, [0.0, 0.0, 0.0, 0.0, 0.0, 0.0, 1.0, 0.0], "bench"),  # bench
    ]
    _write_embs(
        spark, tmp_path, [(i, [float(x) for x in v], 0) for i, v, _ in base]
    )
    _write_docs(
        spark,
        tmp_path,
        [(i, f"doc {i}", "en", s) for i, _, s in base],
    )
    got = {
        r["source"]: r.asDict()
        for r in SIMILARITY.q_embed_decontaminate(spark, str(tmp_path)).collect()
    }

    # full independent replication
    qv = {i: _py_quant(v) for i, v, _ in base}
    bench = [i for i in qv if i % 10 == 7]
    corp = [i for i in qv if i % 10 != 7]
    sigs = {
        i: set(_py_band_sigs(qv[i], SIMILARITY._DC_BANDS, SIMILARITY._DC_PLANES))
        for i in qv
    }
    hits = {}
    for c in corp:
        for b in bench:
            if sigs[c] & sigs[b]:
                cos = _py_cos(qv[c], qv[b])
                if cos >= SIMILARITY._DC_TAU:
                    n, m = hits.get(c, (0, -2.0))
                    hits[c] = (n + 1, max(m, cos))
    src = {i: s for i, _, s in base}
    exp = {}
    for c in corp:
        s = src[c]
        row = exp.setdefault(
            s, {"n_docs": 0, "n_contaminated": 0, "n_hits": 0, "max_cos": None}
        )
        row["n_docs"] += 1
        if c in hits:
            row["n_contaminated"] += 1
            row["n_hits"] += hits[c][0]
            prev = row["max_cos"]
            row["max_cos"] = max(prev, hits[c][1]) if prev is not None else hits[c][1]

    assert set(got) == set(exp)
    for s in exp:
        for k in ("n_docs", "n_contaminated", "n_hits"):
            assert got[s][k] == exp[s][k], (s, k, got[s], exp[s])
        if exp[s]["max_cos"] is None:
            assert got[s]["max_cos"] is None
        else:
            assert got[s]["max_cos"] == pytest.approx(exp[s]["max_cos"], abs=1e-6)
    # the planted near-copy was caught
    assert got["s0"]["n_contaminated"] >= 1
    assert got["s0"]["max_cos"] > 0.99


def test_embed_decontaminate_hits_are_sound(spark, sf_dir):
    """On the real fixture: every reported hit count is bounded by the
    brute-force truth (LSH candidates are a SUBSET — no false pairs),
    and at least one source reports contamination (non-degenerate)."""
    from wq_data_pipeline_spark.sources.testdata import load_table

    rows = SIMILARITY.q_embed_decontaminate(spark, sf_dir).collect()
    assert sum(r["n_contaminated"] for r in rows) >= 1
    emb = load_table(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    data = {r["vec_id"]: _py_quant(r["embedding"]) for r in emb.collect()}
    bench = {i: v for i, v in data.items() if i % 10 == 7}
    corp = {i: v for i, v in data.items() if i % 10 != 7}
    true_hits = {}
    for c, cv in corp.items():
        n = sum(1 for bv in bench.values() if _py_cos(cv, bv) >= SIMILARITY._DC_TAU)
        if n:
            true_hits[c] = n
    src = {
        r["doc_id"]: r["source"]
        for r in load_table(spark, sf_dir, "documents")
        .select("doc_id", "source")
        .collect()
    }
    per_src = {}
    for c, n in true_hits.items():
        if c in src:
            d = per_src.setdefault(src[c], [0, 0])
            d[0] += 1
            d[1] += n
    for r in rows:
        cap = per_src.get(r["source"], [0, 0])
        assert r["n_contaminated"] <= cap[0], r
        assert r["n_hits"] <= cap[1], r


# ------------------------------------------------------------- para_dedup


def test_para_dedup_planted_block_copy(spark, tmp_path):
    """Docs 1 and 2 share one verbatim 16-token block but differ
    everywhere else (doc-level exact dedup misses them); docs 3 and 4
    are byte-identical. Part-level dedup must report BOTH pairs, with
    is_doc_dup distinguishing them."""
    block = " ".join(f"tok{i}" for i in range(16))
    rows = [
        (1, block + " alpha beta gamma delta epsilon zeta eta theta " * 2, "en", "s0"),
        (2, "iota kappa lambda mu nu xi omicron pi rho sigma tau upsilon phi chi psi omega " + block, "en", "s1"),
        (3, "one two three four five six seven eight nine ten eleven twelve thirteen fourteen fifteen sixteen", "en", "s2"),
        (4, "one two three four five six seven eight nine ten eleven twelve thirteen fourteen fifteen sixteen", "en", "s2"),
        (5, "completely different words entirely unrelated content nothing shared here at all today folks", "en", "s0"),
    ]
    _write_docs(spark, tmp_path, rows)
    got = {
        (r["doc_a"], r["doc_b"]): r.asDict()
        for r in DEDUP.q_para_dedup(spark, str(tmp_path)).collect()
    }
    assert (1, 2) in got, got
    assert got[(1, 2)]["is_doc_dup"] is False
    assert got[(1, 2)]["max_jac"] == pytest.approx(1.0)
    assert (3, 4) in got, got
    assert got[(3, 4)]["is_doc_dup"] is True
    assert (1, 5) not in got and (2, 5) not in got


def test_para_dedup_finds_what_doc_level_misses(spark, sf_dir):
    """The round-10 capability pin on the REAL fixture: part-level
    near-dedup reports doc pairs that are NOT byte-identical — the
    copied-block dupes doc-level exact dedup cannot see."""
    rows = DEDUP.q_para_dedup(spark, sf_dir).collect()
    non_doc_dup = [r for r in rows if not r["is_doc_dup"]]
    assert len(non_doc_dup) >= 1
    # and every reported pair shares at least one chunk at J >= tau
    assert all(r["n_dup_chunk_pairs"] >= 1 for r in rows)
    assert all(r["max_jac"] >= DEDUP._PARA_JTAU for r in rows)


def test_para_dedup_pairs_match_brute_force(spark, tmp_path):
    """On a small planted corpus, the reported doc pairs equal the
    brute-force all-pairs chunk-Jaccard truth (8 bands of 2 rows at
    J >= 0.8: miss probability < (1-0.8^2)^8 ~ 2e-4 per pair — and
    exact-block copies are J = 1.0, always caught)."""
    words = [f"w{i}" for i in range(40)]
    rows = []
    for d in range(6):
        txt = " ".join(words[(7 * d + j) % 40] for j in range(34))
        rows.append((d, txt, "en", "s0"))
    # plant: doc 10 = doc 0's first 16 tokens + its own tail
    first16 = " ".join(words[j % 40] for j in range(16))
    rows.append((10, first16 + " zz1 zz2 zz3 zz4 zz5 zz6 zz7 zz8", "en", "s1"))
    _write_docs(spark, tmp_path, rows)
    got = {
        (r["doc_a"], r["doc_b"]) for r in DEDUP.q_para_dedup(spark, str(tmp_path)).collect()
    }

    def chunks(txt):
        t = _py_tokens(txt)
        out = []
        for i in range(0, len(t), DEDUP._PARA_C):
            c = t[i : i + DEDUP._PARA_C]
            if len(c) >= DEDUP._PARA_MIN:
                out.append(set(c))
        return out

    exp = set()
    ch = {i: chunks(t) for i, t, _, _ in rows}
    for a in ch:
        for b in ch:
            if a < b:
                for ca in ch[a]:
                    for cb in ch[b]:
                        j = len(ca & cb) / len(ca | cb)
                        if j >= DEDUP._PARA_JTAU:
                            exp.add((a, b))
    assert got == exp, (got, exp)


# ---------------------------------------------------------- quality_train


def test_quality_train_matches_python_replication(spark, tmp_path):
    """Planted corpus (some docs contain blocklist terms): the engine
    weight trajectory equals a from-scratch pure-Python trainer,
    integer for integer."""
    rows = [
        (0, "fast clean table scan query join merge sort", "en", "s0"),
        (1, "slow broken table scan error query join merge", "en", "s0"),
        (2, "value window agg group fast data column row", "en", "s1"),
        (3, "error slow batch stream broken pipeline fail", "en", "s1"),
        (4, "held out doc not used in training at all", "en", "s2"),
        (5, "clean content merge window sort filter scan", "en", "s2"),
        (6, "slow query error window batch row column", "en", "s0"),
        (7, "good text fast join scan filter group agg", "en", "s1"),
    ]
    _write_docs(spark, tmp_path, rows)
    got = {
        r["b"]: (r["w_micro_r1"], r["w_micro_r2"], r["w_micro_r3"])
        for r in CORPUS.q_quality_train(spark, str(tmp_path)).collect()
    }
    traj = _py_train([(i, t) for i, t, _, _ in rows])
    assert len(got) == CORPUS._QT_B
    for b in range(CORPUS._QT_B):
        assert got[b] == (traj[0][b], traj[1][b], traj[2][b]), (b, got[b])


def test_quality_train_learns_the_gate(spark, tmp_path):
    """The blocklist buckets end up with clearly negative weights vs
    clean-token buckets (the model distills the rule)."""
    clean = ["fast", "clean", "merge", "sort", "filter", "query"]
    rows = []
    for i in range(30):
        if i % 3 == 0:
            rows.append((i, "slow error " + " ".join(clean[:4]), "en", "s0"))
        else:
            rows.append((i, " ".join(clean), "en", "s0"))
    _write_docs(spark, tmp_path, rows)
    w3 = {
        r["b"]: r["w_micro_r3"]
        for r in CORPUS.q_quality_train(spark, str(tmp_path)).collect()
    }
    bad = {_py_bucket("slow"), _py_bucket("error")}
    good = {_py_bucket(t) for t in clean} - bad
    assert max(w3[b] for b in bad) < 0
    assert min(w3[b] for b in good) > max(w3[b] for b in bad)


def test_quality_train_zero_trainable_docs_oracle_parity(spark, tmp_path):
    """Corpus where EVERY doc is held out (doc_id % 5 == 4): the
    engine's n_train == 0 guard returns zero-init weights, and the
    oracle's greatest(n, 1) floor agrees — round(0.1*0/0) would be
    NULL otherwise (the r10 review finding)."""
    from tests.oracle_utils import compare

    rows = [
        (4, "some text here", "en", "s0"),
        (9, "other words entirely", "en", "s1"),
        (14, "slow error doc", "en", "s0"),
    ]
    _write_docs(spark, tmp_path, rows)
    got = CORPUS.q_quality_train(spark, str(tmp_path)).collect()
    assert len(got) == CORPUS._QT_B
    assert all(
        r["w_micro_r1"] == 0 and r["w_micro_r2"] == 0 and r["w_micro_r3"] == 0
        for r in got
    )
    for name in ("quality_train", "quality_train_apply"):
        ok, msg = compare(
            QUERIES[name](spark, str(tmp_path)),
            ORACLES[name],
            str(tmp_path),
        )
        assert ok, (name, msg)


def test_para_dedup_packing_bound_excludes_overflow(spark, tmp_path):
    """A doc longer than _PARA_PACK chunks has its overflow chunks
    EXCLUDED on both sides — never misattributed to the next doc id
    (the r10 review finding). Doc 5 gets > 1024 chunks whose overflow
    would otherwise alias into doc 6's id space; doc 6's only content
    matches doc 5's OVERFLOW chunk, so any reported (5, 6) or (6, x)
    pair would prove misattribution."""
    from tests.oracle_utils import compare

    overflow_block = " ".join(f"ov{j}" for j in range(16))
    # 1025 chunks of 16 tokens; chunk index 1024 is the overflow
    long_text = " ".join(
        f"t{i}_{j}" for i in range(1024) for j in range(16)
    ) + " " + overflow_block
    rows = [
        (5, long_text, "en", "s0"),
        (6, overflow_block + " unrelated tail words here now", "en", "s1"),
        (7, "completely different content in this doc", "en", "s2"),
    ]
    _write_docs(spark, tmp_path, rows)
    got = DEDUP.q_para_dedup(spark, str(tmp_path)).collect()
    # the overflow chunk is excluded, so NO pair involves doc 6
    assert all(r["doc_b"] != 6 and r["doc_a"] != 6 for r in got), got
    ok, msg = compare(
        DEDUP.q_para_dedup(spark, str(tmp_path)),
        DEDUP.SQL_PARA_DEDUP,
        str(tmp_path),
    )
    assert ok, msg


def test_quality_train_apply_matches_python_scoring(spark, tmp_path):
    """The apply entry's per-source report equals scoring every doc
    (held-out included) with the replicated trainer's final weights."""
    rows = [
        (0, "fast clean table scan query join merge sort", "en", "s0"),
        (1, "slow broken table scan error query join merge", "en", "s0"),
        (2, "value window agg group fast data column row", "en", "s1"),
        (3, "error slow batch stream broken pipeline fail", "en", "s1"),
        (4, "held out doc scored at apply time", "en", "s2"),
        (5, "clean content merge window sort filter scan", "en", "s2"),
        (6, "slow query error window batch row column", "en", "s0"),
        (7, "good text fast join scan filter group agg", "en", "s1"),
        (9, "another held out fast clean doc here", "en", "s0"),
    ]
    _write_docs(spark, tmp_path, rows)
    got = {
        r["source"]: (r["n_docs"], r["n_kept"], r["sum_z_micro"])
        for r in CORPUS.q_quality_train_apply(spark, str(tmp_path)).collect()
    }
    w3 = _py_train([(i, t) for i, t, _, _ in rows])[-1]
    exp = {}
    for i, t, _, s in rows:
        toks = _py_tokens(t)
        if not toks:
            continue
        z = sum(w3[_py_bucket(tok)] for tok in toks)
        n, k, sz = exp.get(s, (0, 0, 0))
        exp[s] = (n + 1, k + (1 if z > 0 else 0), sz + z)
    assert got == exp, (got, exp)


def _py_eval(docs, w3):
    """Independent confusion/kappa/AUC replication over the held-out
    slice, given final weights."""
    bl = set(CORPUS._BLOCKLIST)
    scored = []
    for i, t in docs:
        if i % CORPUS._QT_HOLD_MOD != CORPUS._QT_HOLD_RES:
            continue
        toks = _py_tokens(t or "")
        if not toks:
            continue
        y = 0 if any(tok in bl for tok in toks) else 1
        z = sum(w3[_py_bucket(tok)] for tok in toks)
        scored.append((z, y))
    n = len(scored)
    n_pos = sum(y for _, y in scored)
    n_neg = n - n_pos
    tp = sum(1 for z, y in scored if y == 1 and z > 0)
    fp = sum(1 for z, y in scored if y == 0 and z > 0)
    fn = sum(1 for z, y in scored if y == 1 and z <= 0)
    tn = sum(1 for z, y in scored if y == 0 and z <= 0)
    po = (tp + tn) / max(n, 1)
    pe = ((tp + fp) * (tp + fn) + (fn + tn) * (fp + tn)) / (max(n, 1) ** 2)
    kappa = 0.0 if 1.0 - pe == 0.0 else round((po - pe) / (1.0 - pe), 6)
    auc = None
    if n_pos and n_neg:
        scored.sort(key=lambda t: t[0])
        # midrank U statistic
        ranks = {}
        i = 0
        while i < len(scored):
            j = i
            while j < len(scored) and scored[j][0] == scored[i][0]:
                j += 1
            mid = (i + 1 + j) / 2.0
            for k in range(i, j):
                ranks[k] = mid
            i = j
        r_pos = sum(ranks[k] for k, (_, y) in enumerate(scored) if y == 1)
        auc = round((r_pos - n_pos * (n_pos + 1) / 2.0) / (n_pos * n_neg), 6)
    return {
        "n_docs": n, "n_pos": n_pos, "n_neg": n_neg,
        "tp": tp, "fp": fp, "fn": fn, "tn": tn,
        "accuracy": round(po, 6), "kappa": kappa, "auc": auc,
    }


def test_quality_train_eval_matches_python_replication(spark, tmp_path):
    """Confusion, kappa, and the distributed-prefix-sum AUC all equal
    an independent pure-Python evaluation (separating fixture: the
    planted classes split cleanly, so the confusion part is
    non-trivial — tp and tn both positive)."""
    rows = []
    for i in range(40):
        if i % 3 == 0:
            rows.append((i, "slow error broken batch stream pipeline", "en", "s0"))
        else:
            rows.append((i, "fast clean merge sort filter query scan", "en", "s0"))
    _write_docs(spark, tmp_path, rows)
    got = CORPUS.q_quality_train_eval(spark, str(tmp_path)).collect()[0].asDict()
    w3 = _py_train([(i, t) for i, t, _, _ in rows])[-1]
    exp = _py_eval([(i, t) for i, t, _, _ in rows], w3)
    for k in ("n_docs", "n_pos", "n_neg", "tp", "fp", "fn", "tn"):
        assert got[k] == exp[k], (k, got, exp)
    assert got["accuracy"] == pytest.approx(exp["accuracy"], abs=1e-6)
    assert got["kappa"] == pytest.approx(exp["kappa"], abs=1e-6)
    assert got["auc"] == pytest.approx(exp["auc"], abs=1e-6)
    # the separating fixture makes the confusion non-degenerate
    assert exp["tp"] > 0 and exp["tn"] > 0
    assert exp["kappa"] > 0.5


def test_quality_train_eval_auc_matches_real_fixture(spark, sf_dir):
    """On the real fixture, the entry's AUC equals the independent
    python midrank computation (the same number the held-out AUC pin
    below checks is > 0.7)."""
    from wq_data_pipeline_spark.sources.testdata import load_table

    got = CORPUS.q_quality_train_eval(spark, sf_dir).collect()[0]
    w3 = {
        r["b"]: r["w_micro_r3"]
        for r in CORPUS.q_quality_train(spark, sf_dir).collect()
    }
    docs = [
        (r["doc_id"], r["text"])
        for r in load_table(spark, sf_dir, "documents")
        .select("doc_id", "text")
        .collect()
    ]
    exp = _py_eval(docs, w3)
    assert got["auc"] == pytest.approx(exp["auc"], abs=1e-6)
    assert got["n_docs"] == exp["n_docs"]


def test_quality_train_eval_degenerate_edges_oracle_parity(spark, tmp_path):
    """The two untested degenerate paths stay oracle-green: (a) an
    EMPTY held slice (no doc_id % 5 == 4 — the prefix-sum runs over an
    empty frame, the report is the 1-row zero/NULL form), and (b) a
    single-score-group slice (every held doc identical — the AUC tie
    case, n_pos or n_neg zero -> NULL AUC)."""
    from tests.oracle_utils import compare

    # (a) empty held slice
    rows = [
        (0, "fast clean words", "en", "s0"),
        (1, "slow error words", "en", "s0"),
        (2, "more clean words", "en", "s1"),
    ]
    _write_docs(spark, tmp_path, rows)
    got = CORPUS.q_quality_train_eval(spark, str(tmp_path)).collect()
    assert len(got) == 1 and got[0]["n_docs"] == 0 and got[0]["auc"] is None
    ok, msg = compare(
        CORPUS.q_quality_train_eval(spark, str(tmp_path)),
        CORPUS.SQL_QUALITY_TRAIN_EVAL,
        str(tmp_path),
    )
    assert ok, msg

    # (b) all held docs identical -> one score group, all one class
    rows = [
        (0, "fast clean words", "en", "s0"),
        (1, "slow error words", "en", "s0"),
        (4, "same held doc text", "en", "s1"),
        (9, "same held doc text", "en", "s1"),
        (14, "same held doc text", "en", "s1"),
    ]
    _write_docs(spark, tmp_path, rows)
    got = CORPUS.q_quality_train_eval(spark, str(tmp_path)).collect()[0]
    assert got["n_docs"] == 3 and got["n_neg"] == 0 and got["auc"] is None
    ok, msg = compare(
        CORPUS.q_quality_train_eval(spark, str(tmp_path)),
        CORPUS.SQL_QUALITY_TRAIN_EVAL,
        str(tmp_path),
    )
    assert ok, msg


def test_quality_train_heldout_auc(spark, sf_dir):
    """Final weights carry real signal: AUC on the HELD-OUT fifth of
    the corpus (never seen by the trainer) is well above chance."""
    from wq_data_pipeline_spark.sources.testdata import load_table

    w3 = {
        r["b"]: r["w_micro_r3"]
        for r in CORPUS.q_quality_train(spark, sf_dir).collect()
    }
    bl = set(CORPUS._BLOCKLIST)
    scored = []
    for r in (
        load_table(spark, sf_dir, "documents")
        .filter(
            (F.col("doc_id") % CORPUS._QT_HOLD_MOD) == CORPUS._QT_HOLD_RES
        )
        .select("doc_id", "text")
        .collect()
    ):
        toks = _py_tokens(r["text"] or "")
        if not toks:
            continue
        y = 0 if any(t in bl for t in toks) else 1
        z = sum(w3[_py_bucket(t)] for t in toks)
        scored.append((z, y))
    n_pos = sum(y for _, y in scored)
    n_neg = len(scored) - n_pos
    assert n_pos > 0 and n_neg > 0
    # rank-based AUC with midrank ties
    scored.sort(key=lambda t: t[0])
    ranks = {}
    i = 0
    while i < len(scored):
        j = i
        while j < len(scored) and scored[j][0] == scored[i][0]:
            j += 1
        mid = (i + 1 + j) / 2.0
        for k in range(i, j):
            ranks[k] = mid
        i = j
    r_pos = sum(ranks[k] for k, (_, y) in enumerate(scored) if y == 1)
    auc = (r_pos - n_pos * (n_pos + 1) / 2.0) / (n_pos * n_neg)
    assert auc > 0.7, auc
