"""Corpus-family pins: quality_calibration, tokenizer_fertility and
epoch_mix_plan.

Layers (the r10 classifier-pin structure):
- pure-Python replications that recompute each entry from scratch
  (both engines replaying the same bug is exactly what oracle parity
  cannot catch) — for fertility that includes a from-scratch 6-round
  BPE trainer, independent of the engine's fold AND the oracle's
  islands selection;
- conservation/range laws on the real testdata;
- a cross-entry law: fertility's per-language totals must equal
  ``bpe_apply``'s per-document totals in aggregate (one trained
  tokenizer, two rollups — they can never disagree).
"""

from __future__ import annotations

import math
from collections import Counter

import pytest

from wq_data_pipeline_spark.plans import corpus as CORPUS
from tests.replicas import (
    _py_bucket,
    _py_tokens,
    _py_train,
    _round_half_away,
    _write_docs,
)


# ------------------------------------------------- quality_calibration


def _py_calibration(docs):
    """From-scratch held-out reliability table. docs: (doc_id, text)."""
    traj = _py_train(docs)
    w = traj[-1]
    bl = set(CORPUS._BLOCKLIST)
    bins = {}
    for i, t in docs:
        if i % CORPUS._QT_HOLD_MOD != CORPUS._QT_HOLD_RES:
            continue
        toks = _py_tokens(t)
        if not toks:
            continue
        y = 0 if any(tok in bl for tok in toks) else 1
        feats = Counter(_py_bucket(tok) for tok in toks)
        z = sum(c * w[b] for b, c in feats.items())
        p_micro = _round_half_away(
            1000000.0 / (1.0 + math.exp(-(z / 1000000.0)))
        )
        bn = min(9, p_micro // 100000)
        n, npos, sp = bins.get(bn, (0, 0, 0))
        bins[bn] = (n + 1, npos + y, sp + p_micro)
    return bins


def test_quality_calibration_matches_python_replication(spark, tmp_path):
    rows = [
        (0, "fast clean table scan query join merge sort", "en", "s0"),
        (1, "slow broken table scan error query join merge", "en", "s0"),
        (2, "value window agg group fast data column row", "en", "s1"),
        (3, "error slow batch stream broken pipeline fail", "en", "s1"),
        (4, "held out doc clean merge sort filter scan", "en", "s2"),
        (5, "clean content merge window sort filter scan", "en", "s2"),
        (6, "slow query error window batch row column", "en", "s0"),
        (7, "good text fast join scan filter group agg", "en", "s1"),
        (8, "merge sort scan filter window agg row value", "en", "s0"),
        (9, "broken error slow fail batch stream pipe", "en", "s1"),
        (14, "error broken held doc lands in a low bin", "en", "s2"),
        (19, "fast clean merge sort held doc high bin", "en", "s2"),
        (24, "query join window filter held doc mid", "en", "s0"),
    ]
    _write_docs(spark, tmp_path, rows)
    got = {
        r["bin"]: (
            r["n_docs"],
            r["n_pos"],
            r["sum_p_micro"],
            r["frac_pos"],
            r["mean_p"],
            r["gap"],
        )
        for r in CORPUS.q_quality_calibration(spark, str(tmp_path)).collect()
    }
    exp = _py_calibration([(i, t) for i, t, _, _ in rows])
    assert set(got) == set(exp)
    for bn, (n, npos, sp) in exp.items():
        gn, gp, gsp, gf, gm, gg = got[bn]
        assert (gn, gp, gsp) == (n, npos, sp), (bn, got[bn], exp[bn])
        assert gf == pytest.approx(npos / n, abs=2e-6)
        assert gm == pytest.approx(sp / n / 1e6, abs=2e-6)
        assert gg == pytest.approx(gf - gm, abs=2e-6)


def test_quality_calibration_laws(spark, sf_dir):
    """Conservation + range laws on the real corpus: bins in [0, 9],
    doc counts conserve the held tokenized population, probability
    mass and rates stay in range."""
    from wq_data_pipeline_spark.operators.text import tokens
    from wq_data_pipeline_spark.sources.testdata import load_table

    import pyspark.sql.functions as F

    rows = CORPUS.q_quality_calibration(spark, sf_dir).collect()
    held_n = (
        load_table(spark, sf_dir, "documents")
        .filter(
            ((F.col("doc_id") % CORPUS._QT_HOLD_MOD) == CORPUS._QT_HOLD_RES)
            & (F.size(tokens("text")) > 0)
        )
        .count()
    )
    assert sum(r["n_docs"] for r in rows) == held_n
    for r in rows:
        assert 0 <= r["bin"] <= 9
        assert 0 <= r["n_pos"] <= r["n_docs"]
        assert 0 <= r["sum_p_micro"] <= r["n_docs"] * 1_000_000
        assert 0.0 <= r["frac_pos"] <= 1.0
        assert 0.0 <= r["mean_p"] <= 1.0
        assert r["gap"] == pytest.approx(
            r["frac_pos"] - r["mean_p"], abs=2e-6
        )
        # bin membership: mean_p of a bin's members must lie inside
        # the bin's probability interval [b/10, (b+1)/10] (the top
        # bin's clamp only folds p_micro = 1e6 in, which is its own
        # upper edge already)
        lo, hi = r["bin"] / 10.0, (r["bin"] + 1) / 10.0
        assert lo - 1e-6 <= r["mean_p"] <= hi + 1e-6


# ------------------------------------------------- tokenizer_fertility


def _py_bpe_fertility(docs):
    """From-scratch 6-round BPE trainer + per-language fertility.
    docs: (doc_id, text, lang). Independent of the engine's array
    fold AND the oracle's gaps-and-islands merge selection."""
    freq = Counter()
    for _, t, _ in docs:
        for tok in _py_tokens(t):
            freq[tok] += 1
    sym = {wd: list(wd) for wd in freq}
    for _ in range(CORPUS._BPT_ROUNDS):
        pc = Counter()
        for wd, s in sym.items():
            for i in range(len(s) - 1):
                pc[(s[i], s[i + 1])] += freq[wd]
        if not pc:
            break
        (lft, rgt), _c = sorted(
            pc.items(), key=lambda kv: (-kv[1], kv[0][0], kv[0][1])
        )[0]
        for wd, s in sym.items():
            out = []
            for x in s:
                if out and out[-1] == lft and x == rgt:
                    out[-1] = lft + rgt
                else:
                    out.append(x)
            sym[wd] = out
    per_lang = {}
    for _, t, lg in docs:
        for tok in _py_tokens(t):
            nw, nb, nc = per_lang.get(lg, (0, 0, 0))
            per_lang[lg] = (nw + 1, nb + len(sym[tok]), nc + len(tok))
    return {
        lg: (nw, nb, nc, nb * 1_000_000 // nw, nc * 1_000_000 // nb)
        for lg, (nw, nb, nc) in per_lang.items()
    }


def test_tokenizer_fertility_matches_python_replication(spark, tmp_path):
    """Planted multilingual corpus with real merge structure (shared
    subwords repeat enough to be learned): engine output equals the
    from-scratch trainer + rollup, integer for integer."""
    rows = [
        (0, "lowering lowest newer newest wider widest", "en", "s0"),
        (1, "lower newer wider lowest newest widest", "en", "s0"),
        (2, "tiefer tiefste neuer neueste weiter weiteste", "de", "s1"),
        (3, "tiefer neuer weiter tiefste neueste", "de", "s1"),
        (4, "lowering newest tiefer neueste wider", "fr", "s2"),
        (5, "low new wide tief neu weit", "fr", "s2"),
    ]
    _write_docs(spark, tmp_path, rows)
    got = {
        r["lang"]: (
            r["n_words"],
            r["n_bpe_tokens"],
            r["n_chars"],
            r["bpe_per_word_micro"],
            r["chars_per_bpe_micro"],
        )
        for r in CORPUS.q_tokenizer_fertility(spark, str(tmp_path)).collect()
    }
    exp = _py_bpe_fertility([(i, t, lg) for i, t, lg, _ in rows])
    assert got == exp


def test_tokenizer_fertility_agrees_with_bpe_apply(spark, sf_dir):
    """One trained tokenizer, two rollups: fertility's per-language
    totals must sum to bpe_apply's per-document totals. A drift here
    means the two entries tokenized the corpus differently."""
    fert = CORPUS.q_tokenizer_fertility(spark, sf_dir).collect()
    per_doc = CORPUS.q_bpe_apply(spark, sf_dir).collect()
    assert sum(r["n_words"] for r in fert) == sum(
        r["n_words"] for r in per_doc
    )
    assert sum(r["n_bpe_tokens"] for r in fert) == sum(
        r["n_bpe_tokens"] for r in per_doc
    )
    for r in fert:
        # each BPE symbol is >= 1 char and each word >= 1 symbol
        assert r["n_words"] <= r["n_bpe_tokens"] <= r["n_chars"]
        assert r["bpe_per_word_micro"] >= 1_000_000
        assert r["chars_per_bpe_micro"] >= 1_000_000


# ------------------------------------------------- epoch_mix_plan


def _py_epoch_plan(docs):
    """From-scratch closed-form waterfill. docs: (doc_id, text,
    source). Returns {source: (n_tokens, w, capacity, saturated,
    alloc, epochs_micro)}."""
    import re as _re

    per = {}
    for _, t, s in docs:
        per[s] = per.get(s, 0) + (len(_py_tokens(t)) if t else 0)

    def wgt(s):
        m = _re.search(r"(\d+)", s)
        return 1 + (int(m.group(1)) if m else 0) % 4

    T = sum(per.values())
    B = CORPUS._EMP_BUDGET_MULT * T
    items = sorted(
        (
            (s, n, wgt(s), CORPUS._EMP_MAX_EPOCHS * n)
            for s, n in per.items()
        ),
        key=lambda x: (x[3] * (12 // x[2]), x[0]),
    )
    c_before, w_from = 0, sum(w for _, _, w, _ in items)
    sat = {}
    for s, n, w, c in items:
        sat[s] = c * w_from <= (B - c_before) * w
        c_before += c
        w_from -= w
    c_sat = sum(c for s, n, w, c in items if sat[s])
    w_unsat = sum(w for s, n, w, c in items if not sat[s])
    out = {}
    for s, n, w, c in items:
        alloc = c if sat[s] else (B - c_sat) * w // max(w_unsat, 1)
        out[s] = (
            n,
            w,
            c,
            sat[s],
            alloc,
            0 if n == 0 else alloc * 1_000_000 // n,
        )
    return out


def test_epoch_mix_plan_matches_python_replication(spark, tmp_path):
    """Planted corpus with skewed source sizes AND a zero-token
    source: engine equals the from-scratch waterfill, integer for
    integer."""
    rows = []
    texts = {
        "src1": "one two three four five six seven eight",  # w=2
        "src3": "a b c d e f g h i j k l m n o p q r s t",  # w=4
        "src5": "tiny doc",  # w=2
        "src6": "mid size doc here now",  # w=3
    }
    i = 0
    for s, t, reps in (
        ("src1", texts["src1"], 6),
        ("src3", texts["src3"], 2),
        ("src5", texts["src5"], 1),
        ("src6", texts["src6"], 3),
    ):
        for _ in range(reps):
            rows.append((i, t, "en", s))
            i += 1
    rows.append((i, "", "en", "src7"))  # zero-token source (w=4)
    _write_docs(spark, tmp_path, rows)
    got = {
        r["source"]: (
            r["n_tokens"],
            r["w"],
            r["capacity"],
            r["saturated"],
            r["alloc_tokens"],
            r["epochs_micro"],
        )
        for r in CORPUS.q_epoch_mix_plan(spark, str(tmp_path)).collect()
    }
    exp = _py_epoch_plan([(i, t, s) for i, t, _, s in rows])
    assert got == exp
    # the planted shape must actually exercise both branches
    assert any(v[3] for v in exp.values())
    assert any(not v[3] for v in exp.values())


def test_epoch_mix_plan_laws(spark, sf_dir):
    """Waterfill invariants on the real corpus: budget conservation
    with a sub-weight-sum remainder, the epoch cap, per-weight equal
    shares among unsaturated sources, and saturated == at-capacity."""
    rows = CORPUS.q_epoch_mix_plan(spark, sf_dir).collect()
    B = CORPUS._EMP_BUDGET_MULT * sum(r["n_tokens"] for r in rows)
    alloc = sum(r["alloc_tokens"] for r in rows)
    w_unsat = sum(r["w"] for r in rows if not r["saturated"])
    assert alloc <= B
    if w_unsat:
        assert B - alloc < w_unsat  # floor remainder only
    shares = {}
    for r in rows:
        assert r["capacity"] == CORPUS._EMP_MAX_EPOCHS * r["n_tokens"]
        assert 0 <= r["alloc_tokens"] <= r["capacity"]
        assert r["epochs_micro"] <= CORPUS._EMP_MAX_EPOCHS * 1_000_000
        if r["saturated"]:
            assert r["alloc_tokens"] == r["capacity"]
        else:
            shares.setdefault(r["w"], set()).add(r["alloc_tokens"])
    for w, vals in shares.items():
        assert len(vals) == 1, (w, vals)  # equal share per weight


def test_epoch_mix_plan_single_source(spark, tmp_path):
    """One source: never saturated at MULT < MAX_EPOCHS, allocation
    is the whole budget, epochs exactly the budget multiplier."""
    rows = [(0, "alpha beta gamma delta", "en", "src2"),
            (1, "epsilon zeta eta", "en", "src2")]
    _write_docs(spark, tmp_path, rows)
    [r] = CORPUS.q_epoch_mix_plan(spark, str(tmp_path)).collect()
    assert not r["saturated"]
    assert r["alloc_tokens"] == CORPUS._EMP_BUDGET_MULT * r["n_tokens"]
    assert r["epochs_micro"] == CORPUS._EMP_BUDGET_MULT * 1_000_000


def test_tokenizer_fertility_single_char_corpus(spark, tmp_path):
    """Merge-exhausted corpus (all 1-char words): no pairs to learn,
    fertility is exactly 1 token per word and 1 char per token."""
    rows = [
        (0, "a b c d", "en", "s0"),
        (1, "e f g", "de", "s0"),
    ]
    _write_docs(spark, tmp_path, rows)
    got = {
        r["lang"]: (r["n_words"], r["n_bpe_tokens"], r["n_chars"])
        for r in CORPUS.q_tokenizer_fertility(spark, str(tmp_path)).collect()
    }
    assert got == {"en": (4, 4, 4), "de": (3, 3, 3)}
