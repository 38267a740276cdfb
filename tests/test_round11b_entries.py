"""Entry pins: hll_distinct (relational) and cluster_balanced_sample
(similarity).

What the oracle can't pin: that the HLL estimate is actually CLOSE to
the true cardinality (both engines replay the same sketch, so they'd
agree on a badly-biased one), that the register table really is
mergeable (the 100-TB story), and that cluster assignment matches an
independent from-scratch argmax with the documented tie rule.
"""

from __future__ import annotations

import hashlib
import math

import pytest
from pyspark.sql import functions as F

from tests.replicas import (
    _py_plane,
    _py_quant,
    _write_docs,
    _write_embs,
)
from wq_data_pipeline_spark.plans import relational as RELATIONAL
from wq_data_pipeline_spark.plans import similarity as SIMILARITY
from wq_data_pipeline_spark.sources.testdata import load_table

# ------------------------------------------------------------- hll_distinct


def _py_h60(s: str) -> int:
    return int(hashlib.md5(s.encode()).hexdigest()[:15], 16)


def _py_hll(user_ids):
    """From-scratch HLL replication over one group's user ids.
    Returns (n_zero_registers, est_distinct rounded 6dp)."""
    m, p, wbits = RELATIONAL._HLL_M, RELATIONAL._HLL_P, RELATIONAL._HLL_W
    regs = {}
    for u in user_ids:
        h = _py_h60(str(u))
        j, w = h % m, h >> p
        # bit_length, not floor(log2): float log2 rounds 2^52-1 UP to
        # exactly 52.0, which would mis-rank boundary values the
        # engine's integer compare chain gets right
        rho = (wbits + 1) if w == 0 else wbits - (w.bit_length() - 1)
        regs[j] = max(regs.get(j, 0), rho)
    cap = wbits + 1
    s_int = sum(1 << (cap - mj) for mj in regs.values())
    v = m - len(regs)
    s_int += v * (1 << cap)
    est = RELATIONAL._HLL_ALPHA * float(m * m) * float(1 << cap) / float(s_int)
    if est <= 2.5 * m and v > 0:
        est = float(m) * math.log(float(m) / float(v))
    return v, round(est, 6)


def test_hll_matches_python_replication(spark, sf_dir):
    """Engine rows equal the from-scratch sketch, value for value."""
    got = {
        r["event_type"]: (r["n_rows"], r["n_zero_registers"], r["est_distinct"])
        for r in RELATIONAL.q_hll_distinct(spark, sf_dir).collect()
    }
    rows = (
        load_table(spark, sf_dir, "events")
        .filter(F.col("user_id").isNotNull())
        .select("event_type", "user_id")
        .collect()
    )
    by_type = {}
    for r in rows:
        by_type.setdefault(r["event_type"], []).append(r["user_id"])
    assert set(got) == set(by_type)
    for t, ids in by_type.items():
        v, est = _py_hll(ids)
        assert got[t] == (len(ids), v, pytest.approx(est, abs=1e-6)), t


def test_hll_accuracy_band(spark, sf_dir):
    """The estimate is actually close to the truth: rel err <= 0.2
    per group (linear-counting regime at sf0.01's ~150 users/type;
    raw-HLL stderr 1.04/sqrt(256) ~ 6.5% past 2.5m)."""
    got = {
        r["event_type"]: r["est_distinct"]
        for r in RELATIONAL.q_hll_distinct(spark, sf_dir).collect()
    }
    exact = {
        r["event_type"]: r["d"]
        for r in load_table(spark, sf_dir, "events")
        .filter(F.col("user_id").isNotNull())
        .groupBy("event_type")
        .agg(F.countDistinct("user_id").alias("d"))
        .collect()
    }
    for t, d in exact.items():
        rel = abs(got[t] - d) / d
        assert rel <= 0.2, (t, got[t], d, rel)


def test_hll_registers_merge(spark, tmp_path):
    """The 100-TB claim, executed: registers built on two disjoint
    halves of the data, max-merged, give EXACTLY the full-corpus
    estimate — the persist-per-day / union-at-query-time pattern."""
    ids = list(range(1, 301))
    full = _py_hll(ids)
    m, p, wbits = RELATIONAL._HLL_M, RELATIONAL._HLL_P, RELATIONAL._HLL_W

    def regs_of(chunk):
        regs = {}
        for u in chunk:
            h = _py_h60(str(u))
            j, w = h % m, h >> p
            rho = (wbits + 1) if w == 0 else wbits - (w.bit_length() - 1)
            regs[j] = max(regs.get(j, 0), rho)
        return regs

    ra, rb = regs_of(ids[:150]), regs_of(ids[150:])
    merged = {j: max(ra.get(j, 0), rb.get(j, 0)) for j in set(ra) | set(rb)}
    cap = wbits + 1
    s_int = sum(1 << (cap - mj) for mj in merged.values())
    v = m - len(merged)
    s_int += v * (1 << cap)
    est = RELATIONAL._HLL_ALPHA * float(m * m) * float(1 << cap) / float(s_int)
    if est <= 2.5 * m and v > 0:
        est = float(m) * math.log(float(m) / float(v))
    assert (v, round(est, 6)) == full


# ------------------------------------------------- cluster_balanced_sample


def _py_cbs(embs):
    """From-scratch assignment + quota replication. embs: {id: vec}.
    Returns {cluster: (n_total, n_kept, kept_id_sum)}."""
    k, quota = SIMILARITY._CBS_K, SIMILARITY._CBS_QUOTA
    if not embs:
        return {}
    dim = len(next(iter(embs.values())))
    planes = [_py_plane(c, dim) for c in range(k)]
    by_cluster = {}
    for i, v in embs.items():
        q = _py_quant(v)
        dots = [sum(x * h for x, h in zip(q, pl)) for pl in planes]
        best = max(range(k), key=lambda c: (dots[c], -c))
        by_cluster.setdefault(best, []).append(i)
    out = {}
    for c, members in by_cluster.items():
        members.sort(key=lambda i: (_py_h60(str(i)), i))
        kept = members[:quota]
        out[c] = (len(members), len(kept), sum(kept))
    return out


def test_cbs_matches_python_replication(spark, sf_dir):
    got = {
        r["cluster"]: (r["n_total"], r["n_kept"], r["kept_id_sum"])
        for r in SIMILARITY.q_cluster_balanced_sample(spark, sf_dir).collect()
    }
    embs = {
        r["vec_id"]: list(r["embedding"])
        for r in load_table(spark, sf_dir, "embeddings")
        .select("vec_id", "embedding")
        .collect()
    }
    assert got == _py_cbs(embs)


def test_cbs_quota_and_population_laws(spark, sf_dir):
    rows = SIMILARITY.q_cluster_balanced_sample(spark, sf_dir).collect()
    n = load_table(spark, sf_dir, "embeddings").count()
    assert sum(r["n_total"] for r in rows) == n  # every vector lands once
    for r in rows:
        assert r["n_kept"] == min(r["n_total"], SIMILARITY._CBS_QUOTA)


def test_cbs_zero_vector_ties_to_cluster_zero(spark, tmp_path):
    """A zero vector dots 0 with EVERY centroid — the all-way tie
    must resolve to cluster 0 in both engines (oracle compare on the
    planted fixture pins the SQL tie chain too)."""
    from tests.oracle_utils import compare

    _write_docs(spark, tmp_path, [(0, "words", "en", "s0")])
    embs = [(0, [0.0, 0.0, 0.0, 0.0], 0), (1, [1.0, -0.5, 0.25, 0.75], 0)]
    _write_embs(spark, tmp_path, embs)
    got = SIMILARITY.q_cluster_balanced_sample(spark, str(tmp_path)).collect()
    zero_cluster = [
        r["cluster"] for r in got if r["kept_id_sum"] == 0 and r["n_total"] >= 1
    ]
    # vec 0 (the zero vector) must sit in cluster 0
    py = _py_cbs({i: v for i, v, _ in embs})
    assert 0 in py and any(
        r["cluster"] == 0 and r["n_total"] == py[0][0] for r in got
    )
    ok, msg = compare(
        SIMILARITY.q_cluster_balanced_sample(spark, str(tmp_path)),
        SIMILARITY._sql_cbs(dim=4),
        str(tmp_path),
    )
    assert ok, msg
    assert zero_cluster is not None  # silence lints; law asserted above


def test_cbs_refuses_ragged_or_null_embeddings(spark, tmp_path):
    _write_docs(spark, tmp_path, [(0, "words", "en", "s0")])
    _write_embs(spark, tmp_path, [(0, [1.0, 0.5], 0), (1, [1.0], 0)])
    with pytest.raises(ValueError, match="uniform embedding width"):
        SIMILARITY.q_cluster_balanced_sample(spark, str(tmp_path))
    _write_embs(spark, tmp_path, [(0, [1.0, 0.5], 0), (1, None, 0)])
    with pytest.raises(ValueError, match="NULL embedding"):
        SIMILARITY.q_cluster_balanced_sample(spark, str(tmp_path))
