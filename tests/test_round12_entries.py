"""Corpus-family pins: trained language ID (lang_id_train/apply/eval).

Three layers, mirroring the r10 classifier pins:
- integer-for-integer pure-Python replication of the multi-class
  one-vs-rest trigram trainer (both engines replaying the same bug is
  exactly what oracle parity cannot catch — r10 review lesson);
- the capability pin VERDICT r11 #4 asks for: on a mixed multilingual
  fixture whose text carries real trigram signal but none of the
  marker words, the trained model's held-out accuracy beats the
  predict_lang heuristic (which scores 'und' across the board there);
- the degenerate edges: identical-text opposing labels keep the model
  at the zero init (gradients cancel exactly), which in turn pins the
  deterministic (z DESC, lang ASC) argmax tiebreak.
"""

from __future__ import annotations

import hashlib
import math
import re

from pyspark.sql import functions as F

from wq_data_pipeline_spark.plans import corpus as CORPUS
from tests.replicas import (
    _DOC_SCHEMA,
    _round_half_away,
    _write_docs,
)


def _py_trigrams(text: str):
    sn = text[: CORPUS._LI_SNIP].lower()
    return [sn[i : i + 3] for i in range(len(sn) - 2)]


def _py_bucket(g: str) -> int:
    return int(hashlib.md5(g.encode()).hexdigest()[:15], 16) % CORPUS._LI_B


def _py_li_train(docs):
    """From-scratch replication of the multi-class integer-GD
    trainer. docs: list of (doc_id, text, lang)."""
    x = {}  # doc -> {bucket: cnt}
    lab = {}
    classes = set()
    for i, t, lg in docs:
        if i % CORPUS._LI_HOLD_MOD == CORPUS._LI_HOLD_RES or lg is None or t is None:
            continue
        classes.add(lg)
        grams = _py_trigrams(t)
        if not grams:
            continue
        lab[i] = lg
        d = x.setdefault(i, {})
        for g in grams:
            b = _py_bucket(g)
            d[b] = d.get(b, 0) + 1
    n = max(len(x), 1)
    cls = sorted(classes)
    w = {c: [0] * CORPUS._LI_B for c in cls}
    traj = []
    for _ in range(CORPUS._LI_ROUNDS):
        g = {c: [0] * CORPUS._LI_B for c in cls}
        for i, feats in x.items():
            for c in cls:
                z = sum(cnt * w[c][b] for b, cnt in feats.items())
                p = 1.0 / (1.0 + math.exp(-(z / 1000000.0)))
                y = 1.0 if lab[i] == c else 0.0
                e = _round_half_away((p - y) * 1000000.0)
                for b, cnt in feats.items():
                    g[c][b] += cnt * e
        w = {
            c: [
                w[c][b] - _round_half_away(CORPUS._LI_LR * g[c][b] / n)
                for b in range(CORPUS._LI_B)
            ]
            for c in cls
        }
        traj.append({c: list(w[c]) for c in cls})
    return traj


def _py_li_score(w_final, text: str):
    feats = {}
    for g in _py_trigrams(text):
        b = _py_bucket(g)
        feats[b] = feats.get(b, 0) + 1
    if not feats:
        return None
    best, best_z = None, None
    for c in sorted(w_final):  # lang ASC tiebreak via stable iteration
        z = sum(cnt * w_final[c][b] for b, cnt in feats.items())
        if best_z is None or z > best_z:
            best, best_z = c, z
    return best


# Per-language word pools that carry strong, DISTINCT trigram signal
# but contain NO LANG_MARKERS word and no CJK chars — the heuristic
# has nothing to grab (scores 0 -> 'und' everywhere).
_POOLS = {
    "de": [
        "forschung", "wissenschaft", "zeitschrift", "entwicklung",
        "geschwindigkeit", "verarbeitung", "grundlagen", "beobachtung",
    ],
    "es": [
        "corazones", "montanas", "castillos", "naranjas",
        "caballeros", "ventanas", "carreteras", "bibliotecas",
    ],
    "fr": [
        "chateaux", "bordeaux", "nouveaux", "travaux",
        "beaucoup", "chevaux", "tableaux", "oiseaux",
    ],
}


def _mixed_fixture(n_per_lang: int = 25):
    rows = []
    i = 0
    for lg in sorted(_POOLS):
        pool = _POOLS[lg]
        for k in range(n_per_lang):
            words = [pool[(k + j) % len(pool)] for j in range(8)]
            rows.append((i, " ".join(words), lg, "s0"))
            i += 1
    return rows


def test_lang_id_train_matches_python_replication(spark, tmp_path):
    """Tiny planted corpus, three langs: the engine weight trajectory
    equals the from-scratch multi-class trainer, integer for
    integer, class for class."""
    rows = [
        (0, "forschung wissenschaft zeitschrift", "de", "s0"),
        (1, "corazones montanas castillos", "es", "s0"),
        (2, "chateaux bordeaux nouveaux", "fr", "s0"),
        (3, "entwicklung beobachtung grundlagen", "de", "s0"),
        (4, "held out completely", "es", "s0"),
        (5, "naranjas caballeros ventanas", "es", "s0"),
    ]
    _write_docs(spark, tmp_path, rows)
    got = {
        (r["lang"], r["b"]): (
            r["w_micro_r1"], r["w_micro_r2"], r["w_micro_r3"]
        )
        for r in CORPUS.q_lang_id_train(spark, str(tmp_path)).collect()
    }
    traj = _py_li_train([(i, t, lg) for (i, t, lg, _s) in rows])
    cls = sorted(traj[0])
    assert set(c for c, _b in got) == set(cls)
    for c in cls:
        for b in range(CORPUS._LI_B):
            want = tuple(traj[r][c][b] for r in range(CORPUS._LI_ROUNDS))
            assert got[(c, b)] == want, (c, b, got[(c, b)], want)
    # the model learned SOMETHING (non-zero weights exist)
    assert any(any(v) for v in got.values())


def test_lang_id_beats_heuristic_on_held_out(spark, tmp_path):
    """The VERDICT r11 #4 capability pin: on marker-free multilingual
    text the heuristic scores 'und' for every doc (accuracy 0) while
    the trained trigram model classifies the held-out slice >= 0.9."""
    from wq_data_pipeline_spark.operators.text import predict_lang

    rows = _mixed_fixture()
    _write_docs(spark, tmp_path, rows)
    held = [
        (i, t, lg)
        for (i, t, lg, _s) in rows
        if i % CORPUS._LI_HOLD_MOD == CORPUS._LI_HOLD_RES
    ]
    assert len(held) >= 10
    traj = _py_li_train([(i, t, lg) for (i, t, lg, _s) in rows])
    w_engine = {}
    for r in CORPUS.q_lang_id_train(spark, str(tmp_path)).collect():
        w_engine.setdefault(r["lang"], [0] * CORPUS._LI_B)[r["b"]] = r[
            f"w_micro_r{CORPUS._LI_ROUNDS}"
        ]
    assert w_engine == traj[-1]  # engine == replication, again
    model_acc = sum(
        1 for (i, t, lg) in held if _py_li_score(w_engine, t) == lg
    ) / len(held)
    heur = {
        r["doc_id"]: r["p"]
        for r in spark.createDataFrame(
            [(i, t, lg, "s0", len(t)) for (i, t, lg) in held], _DOC_SCHEMA
        )
        .select("doc_id", predict_lang("text").alias("p"))
        .collect()
    }
    heur_acc = sum(1 for (i, t, lg) in held if heur[i] == lg) / len(held)
    assert heur_acc <= 0.2  # the marker heuristic is blind here
    assert model_acc >= 0.9
    assert model_acc > heur_acc


def test_lang_id_zero_model_and_tiebreak(spark, tmp_path):
    """Identical text under opposing labels: the per-class gradients
    cancel exactly, so every round's weights stay at the zero init —
    and with all-zero logits the apply argmax resolves by the lang ASC
    tiebreak for every doc."""
    rows = [
        (0, "identical text for both", "aa", "s0"),
        (1, "identical text for both", "bb", "s0"),
        (4, "some other apply doc", "bb", "s0"),  # held out of training
    ]
    _write_docs(spark, tmp_path, rows)
    tr = CORPUS.q_lang_id_train(spark, str(tmp_path)).collect()
    assert len(tr) == 2 * CORPUS._LI_B
    assert all(
        r["w_micro_r1"] == r["w_micro_r2"] == r["w_micro_r3"] == 0
        for r in tr
    )
    conf = {
        (r["lang"], r["pred_lang"]): r["n_docs"]
        for r in CORPUS.q_lang_id_apply(spark, str(tmp_path)).collect()
    }
    # every doc predicts 'aa' (ties at z=0, lang ASC)
    assert conf == {("aa", "aa"): 1, ("bb", "aa"): 2}


def test_lang_id_no_trainable_docs(spark, tmp_path):
    """All docs held out -> no classes, empty model, empty apply —
    and both entries still agree with their oracles structurally
    (empty output, stable schema)."""
    rows = [(4, "only held out docs here", "en", "s0"),
            (9, "more held out text", "fr", "s0")]
    _write_docs(spark, tmp_path, rows)
    t = CORPUS.q_lang_id_train(spark, str(tmp_path))
    assert t.count() == 0
    assert t.columns == ["lang", "b", "w_micro_r1", "w_micro_r2", "w_micro_r3"]
    a = CORPUS.q_lang_id_apply(spark, str(tmp_path))
    assert a.count() == 0
    assert a.columns == ["lang", "pred_lang", "n_docs"]


def test_lang_id_eval_matches_python_replication(spark, tmp_path):
    """Held-out per-class metrics equal the from-scratch replication:
    confusion from _py_li_score over held docs, prec/rec from exact
    integers, F1 via the 2*tp/(n_pred+n_true) identity."""
    rows = _mixed_fixture(10)
    _write_docs(spark, tmp_path, rows)
    traj = _py_li_train([(i, t, lg) for (i, t, lg, _s) in rows])
    w = traj[-1]
    held = [
        (i, t, lg)
        for (i, t, lg, _s) in rows
        if i % CORPUS._LI_HOLD_MOD == CORPUS._LI_HOLD_RES
    ]
    preds = {i: _py_li_score(w, t) for (i, t, lg) in held}
    cls = sorted(w)
    want = {}
    for c in cls:
        n_true = sum(1 for (i, t, lg) in held if lg == c)
        n_pred = sum(1 for v in preds.values() if v == c)
        tp = sum(1 for (i, t, lg) in held if lg == c and preds[i] == c)
        want[c] = (n_true, n_pred, tp)
    got = {
        r["lang"]: r for r in CORPUS.q_lang_id_eval(spark, str(tmp_path)).collect()
    }
    assert sorted(got) == cls
    for c in cls:
        n_true, n_pred, tp = want[c]
        r = got[c]
        assert (r["n_true"], r["n_pred"], r["tp"]) == (n_true, n_pred, tp)
        if n_pred:
            assert r["prec"] == round(tp / n_pred, 6)
        else:
            assert r["prec"] is None
        if n_true:
            assert r["rec"] == round(tp / n_true, 6)
        else:
            assert r["rec"] is None
        if n_pred + n_true:
            assert r["f1"] == round(2 * tp / (n_pred + n_true), 6)
        else:
            assert r["f1"] is None
    # on the signal-carrying fixture the model is near-perfect
    assert all(got[c]["f1"] is not None and got[c]["f1"] >= 0.9 for c in cls)


def test_lang_id_eval_class_absent_from_held_slice(spark, tmp_path):
    """A trained class with no held-out docs still reports a row:
    n_true = 0 -> rec NULL, and prec NULL when nothing predicted it."""
    rows = [
        (0, "forschung wissenschaft zeitschrift entwicklung", "de", "s0"),
        (1, "corazones montanas castillos naranjas", "es", "s0"),
        (2, "grundlagen beobachtung verarbeitung", "de", "s0"),
        (4, "caballeros ventanas carreteras", "es", "s0"),  # held, es only
    ]
    _write_docs(spark, tmp_path, rows)
    got = {
        r["lang"]: r for r in CORPUS.q_lang_id_eval(spark, str(tmp_path)).collect()
    }
    assert sorted(got) == ["de", "es"]
    assert got["de"]["n_true"] == 0 and got["de"]["rec"] is None
    assert got["es"]["n_true"] == 1


def test_li_snippet_is_prefix_bounded(spark):
    """The featurizer reads exactly the first _LI_SNIP chars: two
    texts sharing that prefix featurize identically."""
    base = "x" * CORPUS._LI_SNIP
    df = spark.createDataFrame(
        [(0, base + "aaaa"), (1, base + "zzzz")], ["doc_id", "text"]
    )
    f = CORPUS._li_features(df, []).collect()
    by_doc = {}
    for r in f:
        by_doc.setdefault(r["doc_id"], {})[r["b"]] = r["cnt"]
    assert by_doc[0] == by_doc[1]
