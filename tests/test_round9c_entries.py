"""Entry pins: leak_free_split, domain_top_cap, corpus_manifest
(corpus), audio_energy (multimodal), txn_conflict_check (lakehouse)
and mrl_recall (similarity).

Hand-computed semantics + brute-force laws on synthetic fixtures; the
sf-oracle equivalence is pinned by test_oracle.py. These pin what the
oracle can't: the group-never-tears split law against an independent
pure-Python replication, cap admission under planted ties, and the
audio feature math against a codec-free direct computation (so a
codec round-trip bug and a feature bug can't cancel).
"""

from __future__ import annotations

import hashlib
import re
import struct

from pyspark.sql import functions as F

from wq_data_pipeline_spark.plans import corpus as CORPUS
from wq_data_pipeline_spark.plans import lakehouse as LAKEHOUSE
from wq_data_pipeline_spark.plans import multimodal as MULTIMODAL
from wq_data_pipeline_spark.plans import similarity as SIMILARITY

_DOC_SCHEMA = "doc_id long, text string, lang string, source string, n_chars long"


def _write_docs(spark, path, rows):
    """rows: (doc_id, text, lang, source); n_chars derived."""
    full = [(i, t, lg, s, len(t)) for (i, t, lg, s) in rows]
    spark.createDataFrame(full, _DOC_SCHEMA).coalesce(2).write.mode(
        "overwrite"
    ).parquet(f"{path}/documents.parquet")


# --- pure-Python replications (independent of the Spark/DuckDB code) --------


def _py_fp(text: str) -> str:
    toks = [t for t in re.split(r"\s+", text.lower()) if t]
    return hashlib.md5(" ".join(sorted(set(toks))).encode()).hexdigest()


def _py_bucket(hexstr: str) -> int:
    return int(hexstr[:8], 16) % 100


def _py_split(bucket: int) -> str:
    return "train" if bucket < 80 else ("val" if bucket < 90 else "test")


def _py_doc_split(doc_id: int) -> str:
    return _py_split(_py_bucket(hashlib.md5(str(doc_id).encode()).hexdigest()))


# --- leak_free_split ---------------------------------------------------------


def test_leak_free_split_matches_python_brute_force(spark, tmp_path):
    """Planted corpus: dup group A (3 members — same word SET via
    reordering/case/repetition), dup group B (2 members), singletons.
    The engine report must equal a full pure-Python replication
    (fingerprints, buckets, split rule, leak audit) — and by
    construction no group may span two splits."""
    rows = [
        (1, "alpha beta gamma", "en", "s0"),
        (2, "gamma  beta alpha", "en", "s0"),  # same set, reordered
        (3, "Beta ALPHA gamma beta", "en", "s1"),  # case + repetition
        (40, "delta epsilon", "en", "s1"),
        (41, "epsilon delta delta", "en", "s2"),
        (100, "unique words here", "en", "s2"),
        (101, "another singleton doc", "en", "s0"),
        (102, "yet more text", "en", "s1"),
    ]
    _write_docs(spark, tmp_path, rows)
    got = {
        r["split"]: r.asDict()
        for r in CORPUS.q_leak_free_split(spark, str(tmp_path)).collect()
    }

    groups: dict[str, list[tuple[int, str]]] = {}
    for i, t, _lg, _s in rows:
        groups.setdefault(_py_fp(t), []).append((i, t))
    # sanity: the planted dup groups actually collide
    sizes = sorted(len(v) for v in groups.values())
    assert sizes == [1, 1, 1, 2, 3]

    exp: dict[str, dict[str, int]] = {}
    for fp, members in groups.items():
        s = _py_split(_py_bucket(fp))
        e = exp.setdefault(
            s,
            {
                "n_groups": 0,
                "n_docs": 0,
                "sum_chars": 0,
                "n_dup_docs": 0,
                "n_naive_leaky_groups": 0,
            },
        )
        e["n_groups"] += 1
        e["n_docs"] += len(members)
        e["sum_chars"] += sum(len(t) for (_i, t) in members)
        if len(members) > 1:
            e["n_dup_docs"] += len(members)
        if len({_py_doc_split(i) for (i, _t) in members}) > 1:
            e["n_naive_leaky_groups"] += 1

    assert set(got) == set(exp)
    for s, e in exp.items():
        for k, v in e.items():
            assert got[s][k] == v, (s, k, got[s], e)


def test_leak_free_split_flags_naive_leak(spark, tmp_path):
    """Force a naive-leaky group: two docs with the same word set whose
    doc ids land in different naive splits — the audit must count it
    (this is the exact leak a per-doc hash split ships)."""
    text = "shared duplicated content words"
    # scan ids until two fall in different naive splits
    ids = []
    for i in range(1, 2000):
        if not ids:
            ids.append(i)
        elif _py_doc_split(i) != _py_doc_split(ids[0]):
            ids.append(i)
            break
    assert len(ids) == 2
    rows = [(ids[0], text, "en", "s0"), (ids[1], text + " ", "en", "s1")]
    _write_docs(spark, tmp_path, rows)
    out = CORPUS.q_leak_free_split(spark, str(tmp_path)).collect()
    assert len(out) == 1  # one group -> one split row: never torn
    r = out[0].asDict()
    assert r["n_groups"] == 1 and r["n_docs"] == 2
    assert r["n_dup_docs"] == 2 and r["n_naive_leaky_groups"] == 1


# --- domain_top_cap ----------------------------------------------------------


def test_domain_top_cap_brute_force_with_ties(spark, tmp_path):
    """26 docs in one source with TIED lengths around the cap edge
    (doc_id breaks the tie), plus a small source under the cap
    (nothing dropped, dropped_chars NULL)."""
    rows = []
    # source 'big': lengths 30,30,...  ids 1..26 — rank ties broken by id
    for i in range(1, 27):
        rows.append((i, "x" * (30 - (i % 3)), "en", "big"))
    # source 'tiny': 3 docs, cap doesn't bind
    for i in range(100, 103):
        rows.append((i, "y" * (5 + i % 4), "en", "tiny"))
    _write_docs(spark, tmp_path, rows)
    got = {
        r["source"]: r.asDict()
        for r in CORPUS.q_domain_top_cap(spark, str(tmp_path)).collect()
    }

    docs = [(i, len(t), s) for (i, t, _lg, s) in rows]
    for src in ("big", "tiny"):
        mine = sorted(
            [(n, i) for (i, n, s) in docs if s == src],
            key=lambda p: (-p[0], p[1]),
        )
        kept = mine[: CORPUS._CAP]
        dropped = mine[CORPUS._CAP :]
        g = got[src]
        assert g["n_docs"] == len(mine)
        assert g["n_kept"] == len(kept)
        assert g["n_dropped"] == len(dropped)
        assert g["kept_chars"] == sum(n for (n, _i) in kept)
        assert g["dropped_chars"] == (
            sum(n for (n, _i) in dropped) if dropped else None
        )
        assert g["cutoff_chars"] == min(n for (n, _i) in kept)


def test_leak_free_split_random_corpora_match_brute_force(spark, tmp_path):
    """Seeded-random property test: random corpora with planted dup
    groups (shuffled/case-mangled word sets), whitespace-only and
    empty texts included — the engine report must equal the
    pure-Python replication on every trial."""
    import random

    rng = random.Random(0xC0FFEE)
    vocab = [f"w{k}" for k in range(30)]
    for trial in range(3):
        rows = []
        did = 0
        for g in range(rng.randint(4, 8)):
            base = rng.sample(vocab, rng.randint(1, 6))
            for _m in range(rng.randint(1, 4)):
                words = base[:]
                rng.shuffle(words)
                words += [rng.choice(base).upper() for _ in range(rng.randint(0, 2))]
                did += rng.randint(1, 9)
                rows.append((did, "  ".join(words), "en", f"s{g % 3}"))
        did += 1
        rows.append((did, "   ", "en", "s0"))  # whitespace-only -> empty set
        did += 2
        rows.append((did, "", "en", "s1"))  # empty text, same empty set
        _write_docs(spark, tmp_path / f"t{trial}", rows)
        got = {
            r["split"]: r.asDict()
            for r in CORPUS.q_leak_free_split(
                spark, str(tmp_path / f"t{trial}")
            ).collect()
        }
        groups: dict[str, list[tuple[int, str]]] = {}
        for i, t, _lg, _s in rows:
            groups.setdefault(_py_fp(t), []).append((i, t))
        exp: dict[str, dict[str, int]] = {}
        for fp, members in groups.items():
            s = _py_split(_py_bucket(fp))
            e = exp.setdefault(
                s,
                dict.fromkeys(
                    [
                        "n_groups",
                        "n_docs",
                        "sum_chars",
                        "n_dup_docs",
                        "n_naive_leaky_groups",
                    ],
                    0,
                ),
            )
            e["n_groups"] += 1
            e["n_docs"] += len(members)
            e["sum_chars"] += sum(len(t) for (_i, t) in members)
            if len(members) > 1:
                e["n_dup_docs"] += len(members)
            if len({_py_doc_split(i) for (i, _t) in members}) > 1:
                e["n_naive_leaky_groups"] += 1
        assert set(got) == set(exp), trial
        for s, e in exp.items():
            for k, v in e.items():
                assert got[s][k] == v, (trial, s, k, got[s], e)


def test_domain_top_cap_random_sizes_and_ties(spark, tmp_path):
    """Seeded-random property test: random per-source sizes straddling
    the cap, heavy length ties — per-source report must equal the
    brute-force top-CAP selection on every trial."""
    import random

    rng = random.Random(0xBEEF)
    for trial in range(3):
        rows = []
        did = 0
        for s in range(rng.randint(2, 5)):
            for _ in range(rng.randint(1, 2 * CORPUS._CAP + 5)):
                did += rng.randint(1, 3)
                rows.append((did, "x" * rng.randint(1, 6), "en", f"s{s}"))
        _write_docs(spark, tmp_path / f"t{trial}", rows)
        got = {
            r["source"]: r.asDict()
            for r in CORPUS.q_domain_top_cap(spark, str(tmp_path / f"t{trial}")).collect()
        }
        by_src: dict[str, list[tuple[int, int]]] = {}
        for i, t, _lg, s in rows:
            by_src.setdefault(s, []).append((len(t), i))
        assert set(got) == set(by_src), trial
        for s, docs in by_src.items():
            mine = sorted(docs, key=lambda p: (-p[0], p[1]))
            kept, dropped = mine[: CORPUS._CAP], mine[CORPUS._CAP :]
            g = got[s]
            assert g["n_kept"] == len(kept) and g["n_dropped"] == len(dropped)
            assert g["kept_chars"] == sum(n for (n, _i) in kept)
            assert g["dropped_chars"] == (
                sum(n for (n, _i) in dropped) if dropped else None
            )
            assert g["cutoff_chars"] == min(n for (n, _i) in kept)


# --- txn_conflict_check -------------------------------------------------------


def test_txn_conflict_hand_computed(spark, tmp_path):
    """Span 0..100 min -> txn window opens at +40. Planted keys:
    K1 written by BOTH txns inside the window (conflict), K2 only by
    A, K3 only by B, K4 only BEFORE the window (invisible), K5 only
    by residue-0 records (not part of either txn)."""
    import datetime as dt

    base = dt.datetime(2024, 3, 1, tzinfo=dt.timezone.utc)

    def t(m):
        return base + dt.timedelta(minutes=m)

    # event_id residue picks the txn: %3==1 -> A, %3==2 -> B, %3==0 -> neither
    rows = [
        # span anchors (residue 0, key K5: counted in span, not in txns)
        (300, t(0), 5, "k", 0.0),
        (303, t(100), 5, "k", 0.0),
        # K1: A (id 7 -> %3=1) and B (id 8 -> %3=2) both write at +50/+60
        (7, t(50), 1, "k", 1.0),
        (8, t(60), 1, "k", 2.0),
        # K2: only A writes in-window
        (13, t(70), 2, "k", 3.0),
        # K3: only B writes in-window
        (14, t(80), 3, "k", 4.0),
        # K4: A writes BEFORE the window opens (+10) — invisible
        (16, t(10), 4, "k", 5.0),
    ]
    spark.createDataFrame(
        rows,
        "event_id long, ts timestamp, user_id long, event_type string, value double",
    ).coalesce(2).write.mode("overwrite").parquet(f"{tmp_path}/events.parquet")
    out = LAKEHOUSE.q_txn_conflict_check(spark, str(tmp_path)).collect()
    assert len(out) == 1
    r = out[0].asDict()
    assert r == {
        "event_type": "k",
        "n_keys_a": 2,  # K1, K2
        "n_keys_b": 2,  # K1, K3
        "n_conflict_keys": 1,  # K1
        "n_clean_keys": 2,  # K2, K3
    }


# --- audio_energy ------------------------------------------------------------


def _py_audio_features(text: str) -> dict:
    """Codec-FREE direct computation from the md5 sample chain — the
    engine path goes md5 -> wav_encode -> stdlib decode -> features,
    so equality here proves the WAV round-trip AND the feature math
    independently of the SQL oracle."""
    seed = hashlib.md5(text.encode()).hexdigest()
    raw = b"".join(
        hashlib.md5(f"{seed}:{c}".encode()).digest() for c in range(MULTIMODAL._N_CHUNKS)
    )
    vals = [v for (v,) in struct.iter_unpack("<h", raw)]
    return {
        "n_frames": len(vals),
        "sample_rate": MULTIMODAL._RATE,
        "sum_abs": sum(abs(v) for v in vals),
        "sum_sq": sum(v * v for v in vals),
        "peak_abs": max(abs(v) for v in vals),
        "n_zero_cross": sum(1 for a, b in zip(vals, vals[1:]) if a * b < 0),
    }


def test_audio_energy_matches_direct_python(spark, tmp_path):
    rows = [
        (1, "the quick brown fox", "en", "s0"),
        (2, "jumps over the lazy dog", "en", "s0"),
        (3, "the quick brown fox", "en", "s1"),  # byte-dup of doc 1
        (4, "completely different text body", "en", "s1"),
    ]
    _write_docs(spark, tmp_path, rows)
    got = {
        r["media_id"]: r.asDict()
        for r in MULTIMODAL.q_audio_energy(spark, str(tmp_path)).collect()
    }
    assert set(got) == {1, 2, 3, 4}
    for i, t, _lg, _s in rows:
        exp = _py_audio_features(t)
        for k, v in exp.items():
            assert got[i][k] == v, (i, k, got[i], exp)
    # identical text -> identical clip -> dup-bucket count 2
    assert got[1]["n_same_clip"] == 2 and got[3]["n_same_clip"] == 2
    assert got[2]["n_same_clip"] == 1 and got[4]["n_same_clip"] == 1


# --- corpus_manifest ----------------------------------------------------------


def test_corpus_manifest_order_invariant_and_tamper_local(spark, tmp_path):
    """The manifest law: (a) the same corpus in ANY row order / file
    layout yields the identical manifest (the order-free checksum is
    the point); (b) tampering ONE doc's text changes its (source,
    split) row's checksum_xor and nothing else; (c) checksum matches
    a pure-Python xor replication."""
    import random

    rng = random.Random(0xD1CE)
    rows = [
        (i, f"doc {i} body " + " ".join(rng.choices("abcdef", k=5)), "en", f"s{i % 3}")
        for i in range(1, 41)
    ]
    _write_docs(spark, tmp_path / "a", rows)
    shuffled = rows[:]
    rng.shuffle(shuffled)
    # different row order AND different file count
    full = [(i, t, lg, s, len(t)) for (i, t, lg, s) in shuffled]
    spark.createDataFrame(full, _DOC_SCHEMA).repartition(7).write.mode(
        "overwrite"
    ).parquet(f"{tmp_path}/b/documents.parquet")

    key = lambda r: (r["source"], r["split"])  # noqa: E731
    ma = {key(r): r.asDict() for r in CORPUS.q_corpus_manifest(spark, str(tmp_path / "a")).collect()}
    mb = {key(r): r.asDict() for r in CORPUS.q_corpus_manifest(spark, str(tmp_path / "b")).collect()}
    assert ma == mb

    # python replication of one row's checksum
    def h60(text: str) -> int:
        return int(hashlib.md5(text.encode()).hexdigest()[:15], 16)

    import functools

    for (src, spl), row in ma.items():
        hs = [
            h60(t)
            for (i, t, _lg, s) in rows
            if s == src and _py_doc_split(i) == spl
        ]
        assert row["n_docs"] == len(hs)
        assert row["checksum_xor"] == functools.reduce(lambda a, b: a ^ b, hs)
        assert row["h_min"] == min(hs) and row["h_max"] == max(hs)

    # tamper one doc -> exactly that row's checksum moves
    victim = rows[4]
    tampered = [
        (i, t + "!" if i == victim[0] else t, lg, s) for (i, t, lg, s) in rows
    ]
    _write_docs(spark, tmp_path / "c", tampered)
    mc = {key(r): r.asDict() for r in CORPUS.q_corpus_manifest(spark, str(tmp_path / "c")).collect()}
    vkey = (victim[3], _py_doc_split(victim[0]))
    for k in ma:
        if k == vkey:
            assert mc[k]["checksum_xor"] != ma[k]["checksum_xor"]
            assert mc[k]["n_docs"] == ma[k]["n_docs"]
        else:
            assert mc[k]["checksum_xor"] == ma[k]["checksum_xor"], k


# --- mrl_recall ---------------------------------------------------------------


def test_mrl_recall_matches_python_brute_force(spark, tmp_path):
    """Seeded-random embeddings (float32 like the fixture) — the
    engine's per-truncation recall report must equal a full
    pure-Python replication: quantize, prefix dots, cosine ranking
    with (cos DESC, id ASC) ties, top-5 sets, recall vs the full-dim
    set. Also pins the identity row: recall@full-dim is exactly 1."""
    import math
    import random

    import numpy as np

    rng = random.Random(0x5EED)
    vecs = {}
    ids = [100, 200] + [i for i in range(1, 45) if i % 100 != 0]
    for i in ids:
        vecs[i] = [np.float32(rng.uniform(-1, 1)).item() for _ in range(64)]
    rows = [(i, [float(np.float32(x)) for x in v], 0) for i, v in vecs.items()]
    spark.createDataFrame(
        rows, "vec_id long, embedding array<float>, label int"
    ).coalesce(2).write.mode("overwrite").parquet(f"{tmp_path}/embeddings.parquet")

    def qz(x: float) -> int:
        y = x * 1e7
        return int(math.floor(abs(y) + 0.5)) * (1 if y >= 0 else -1)

    q = {i: [qz(x) for x in v] for i, v in vecs.items()}
    queries = [i for i in ids if i % 100 == 0]
    topk = {}
    for d in SIMILARITY._MRL_DIMS:
        for qi in queries:
            scored = []
            for ni in ids:
                if ni == qi:
                    continue
                dot = sum(a * b for a, b in zip(q[ni][:d], q[qi][:d]))
                n1 = sum(a * a for a in q[ni][:d])
                n2 = sum(b * b for b in q[qi][:d])
                cos = dot / (math.sqrt(n1) * math.sqrt(n2))
                scored.append((-cos, ni))
            scored.sort()
            topk[(qi, d)] = {ni for (_c, ni) in scored[: SIMILARITY._MRL_K]}

    full_d = max(SIMILARITY._MRL_DIMS)
    exp = {}
    for d in SIMILARITY._MRL_DIMS:
        hits = sum(
            len(topk[(qi, d)] & topk[(qi, full_d)]) for qi in queries
        )
        n_ranked = SIMILARITY._MRL_K * len(queries)
        exp[d] = {
            "n_queries": len(queries),
            "n_ranked": n_ranked,
            "sum_hits": hits,
            "recall_at_5": round(hits / n_ranked, 6),
        }

    got = {
        r["trunc_dim"]: r.asDict()
        for r in SIMILARITY.q_mrl_recall(spark, str(tmp_path)).collect()
    }
    assert set(got) == set(exp)
    for d in exp:
        for k, v in exp[d].items():
            assert got[d][k] == v, (d, k, got[d], exp[d])
    assert got[full_d]["recall_at_5"] == 1.0
    # the planted random vectors must actually exercise truncation loss
    assert any(got[d]["recall_at_5"] < 1.0 for d in SIMILARITY._MRL_DIMS[:-1])


def test_audio_features_window_word_rejects_nonpcm16(spark):
    """Contract guard: the real-codec path refuses what it can't decode
    exactly (8-bit PCM here), mirroring decode_media's behavior."""
    import io
    import wave

    import pytest as _pytest

    from wq_data_pipeline_spark.operators.multimodal import audio_features

    buf = io.BytesIO()
    with wave.open(buf, "wb") as f:
        f.setnchannels(1)
        f.setsampwidth(1)  # 8-bit: not the supported 16-bit shape
        f.setframerate(8000)
        f.writeframes(bytes(range(16)))
    df = spark.createDataFrame(
        [(1, bytearray(buf.getvalue()))], "media_id long, content binary"
    )
    with _pytest.raises(Exception, match="16-bit mono PCM"):
        audio_features(df).collect()
