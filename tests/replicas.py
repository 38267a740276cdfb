"""Shared fixture writers and pure-Python replications for the catalog
entry tests: documents/embeddings parquet writers, the quantized-cosine
and LSH-plane mirrors, the tokenizer/bucket mirrors and the from-scratch
quality-classifier trainer."""

from __future__ import annotations

import hashlib
import math
import re

from pyspark.sql import types as T

from wq_data_pipeline_spark.plans import corpus as CORPUS

# ---------------------------------------------------------------- fixtures

_DOC_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType(), False),
        T.StructField("text", T.StringType(), True),
        T.StructField("lang", T.StringType(), True),
        T.StructField("source", T.StringType(), True),
        T.StructField("n_chars", T.LongType(), True),
    ]
)

_EMB_SCHEMA = T.StructType(
    [
        T.StructField("vec_id", T.LongType(), False),
        T.StructField("embedding", T.ArrayType(T.FloatType()), True),
        T.StructField("label", T.IntegerType(), True),
    ]
)


def _write_docs(spark, path, rows):
    full = [(i, t, lg, s, len(t)) for (i, t, lg, s) in rows]
    spark.createDataFrame(full, _DOC_SCHEMA).coalesce(2).write.mode(
        "overwrite"
    ).parquet(f"{path}/documents.parquet")


def _write_embs(spark, path, rows):
    spark.createDataFrame(rows, _EMB_SCHEMA).coalesce(2).write.mode(
        "overwrite"
    ).parquet(f"{path}/embeddings.parquet")


# ------------------------------------------------- pure-Python replications


def _py_quant(v):
    # mirror of similarity._quantized: round(float32-as-double * 1e7)
    return [int(_round_half_away(float(x) * 10_000_000)) for x in v]


def _round_half_away(x: float) -> int:
    return int(math.copysign(math.floor(abs(x) + 0.5), x))


def _py_plane(p: int, dim: int):
    return [
        1 if int(hashlib.md5(f"{p}:{i}".encode()).hexdigest()[0], 16) % 2 == 0
        else -1
        for i in range(dim)
    ]


def _py_band_sigs(q, bands, planes):
    """(band, sig) list for one quantized vector — mirror of
    similarity.banded_signatures."""
    dim = len(q)
    out = []
    for b in range(bands):
        sig = 0
        for j in range(planes):
            h = _py_plane(b * planes + j, dim)
            if sum(x * hh for x, hh in zip(q, h)) > 0:
                sig |= 1 << j
        out.append((b, sig))
    return out


def _py_kmeans(rows, k, iters):
    """Pure-Python Lloyd reference for similarity.kmeans_centroids.
    rows: list of (id, vector). Seeds: the k rows with the smallest
    md5(str(id)), ties by input position, numbered in that order.
    Each round: argmax of the left-fold dot against the L2-normalized
    centroids (ties to the lowest centroid id), then exact cluster
    means (math.fsum: exact for integer-valued vectors); an empty
    cluster keeps its previous centroid. Returns the k centroids."""

    def md5(i):
        return hashlib.md5(str(i).encode()).hexdigest()

    order = sorted(range(len(rows)), key=lambda j: (md5(rows[j][0]), j))
    cents = [[float(x) for x in rows[j][1]] for j in order[:k]]
    for _ in range(iters):
        normed = []
        for c in cents:
            sq = 0.0
            for x in c:
                sq += x * x
            n = math.sqrt(sq)
            normed.append([x / n if n > 0 else x * 0.0 for x in c])
        members = [[] for _ in cents]
        for _, v in rows:
            best, best_cid = None, None
            for cid, c in enumerate(normed):
                s = 0.0
                for x, h in zip(v, c):
                    s += float(x) * h
                if best is None or s > best:
                    best, best_cid = s, cid
            members[best_cid].append(v)
        cents = [
            [math.fsum(col) / len(vs) for col in zip(*vs)] if vs else c
            for c, vs in zip(cents, members)
        ]
    return cents


def _py_cos(a, b):
    d = sum(x * y for x, y in zip(a, b))
    return d / (
        math.sqrt(sum(x * x for x in a)) * math.sqrt(sum(x * x for x in b))
    )


def _py_tokens(text: str):
    return [t for t in re.split(r"\s+", text.lower()) if t]


def _py_bucket(tok: str) -> int:
    return int(hashlib.md5(tok.encode()).hexdigest()[:15], 16) % CORPUS._QT_B


def _py_train(docs):
    """From-scratch replication of the 3-round integer-GD trainer.
    docs: list of (doc_id, text)."""
    bl = set(CORPUS._BLOCKLIST)
    x = {}  # doc -> {bucket: cnt}
    y = {}
    for i, t in docs:
        if i % CORPUS._QT_HOLD_MOD == CORPUS._QT_HOLD_RES:
            continue
        toks = _py_tokens(t)
        if not toks:
            continue
        y[i] = 0 if any(tok in bl for tok in toks) else 1
        d = x.setdefault(i, {})
        for tok in toks:
            b = _py_bucket(tok)
            d[b] = d.get(b, 0) + 1
    n = len(x)
    w = [0] * CORPUS._QT_B
    traj = []
    for _ in range(CORPUS._QT_ROUNDS):
        g = [0] * CORPUS._QT_B
        for i, feats in x.items():
            z = sum(c * w[b] for b, c in feats.items())
            p = 1.0 / (1.0 + math.exp(-(z / 1000000.0)))
            e = _round_half_away((p - y[i]) * 1000000.0)
            for b, c in feats.items():
                g[b] += c * e
        w = [
            w[b] - _round_half_away(CORPUS._QT_LR * g[b] / n)
            for b in range(CORPUS._QT_B)
        ]
        traj.append(list(w))
    return traj
