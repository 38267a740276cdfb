"""Similarity / ANN family: embedding search (brute-force cosine, IVF,
trained k-means IVF, banded random-hyperplane LSH, PQ and IVF-PQ),
embedding near-dup pairs and clusters, SemDeDup variants, lexical
retrieval (TF-IDF, BM25), hybrid reciprocal-rank fusion, Matryoshka
recall, embedding profiles and quantization, and diversity sampling.

Exactness: embedding math is quantized to exact integers
(round(x * 1e7), ``_quantized``) so dot products are BIGINT-exact in
both engines and the only float is one final division, rounded in both
dialects. Rank fusion quantizes 1/(k + rank) to integer micros before
the per-doc sum. Embeddings link to documents by vec_id = doc_id (the
fixture contract)."""

from __future__ import annotations

import math

from pyspark.sql import Column, DataFrame, SparkSession, Window, functions as F

from wq_data_pipeline_spark.operators.pinning import pin
from wq_data_pipeline_spark.operators.retrieval import bm25_search
from wq_data_pipeline_spark.operators.scale import spread_small_scan
from wq_data_pipeline_spark.operators.similarity import (
    band_sig_array,
    hyperplane_components,
    quantized_cosine,
)
from wq_data_pipeline_spark.operators.text import gram_hash
from wq_data_pipeline_spark.plans.corpus import SQL_WORDS
from wq_data_pipeline_spark.sources.testdata import load_table


# --- Similarity search ------------------------------------------------------

_Q = 10_000_000  # quantization scale: round(x*1e7) -> BIGINT-exact dot


def _quantized(vec: str | F.Column) -> F.Column:
    v = F.col(vec) if isinstance(vec, str) else vec
    return F.transform(v, lambda x: F.round(x.cast("double") * _Q).cast("long"))


def q_embed_cosine_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brute-force cosine top-5 per query vector (queries =
    vec_id%100==0). Quantized-integer dot products: BIGINT-exact in
    both engines, so ranking ties and cosine values are deterministic."""
    emb = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", _quantized("embedding").alias("q")
    )
    qs = emb.filter(F.col("vec_id") % 100 == 0).select(
        F.col("vec_id").alias("query_id"), F.col("q").alias("qq")
    )
    # single-file corpus -> one scan split; spread the O(corpus x queries)
    # scoring loop across the cluster before the broadcast fan-out
    # (defaultParallelism, NOT a literal core count — a fixed 32 would
    # cap parallelism on a real cluster)
    j = spread_small_scan(emb).crossJoin(F.broadcast(qs)).filter(
        F.col("vec_id") != F.col("query_id")
    )
    scored = j.select(
        "query_id",
        F.col("vec_id").alias("neighbor_id"),
        quantized_cosine("q", "qq").alias("cos_sim"),
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cos_sim"), F.asc("neighbor_id"))
    return scored.withColumn("rank", F.row_number().over(w)).filter(F.col("rank") <= 5)


SQL_EMBED_TOPK = f"""
WITH q AS (
  SELECT vec_id, list_transform(embedding, x -> CAST(round(CAST(x AS DOUBLE) * {_Q}) AS BIGINT)) AS q
  FROM embeddings
),
pairs AS (
  SELECT a.vec_id AS neighbor_id, b.vec_id AS query_id,
         list_sum(list_transform(generate_series(1, len(a.q)), i -> a.q[i] * b.q[i])) AS dotq,
         list_sum(list_transform(a.q, x -> x * x)) AS n1,
         list_sum(list_transform(b.q, x -> x * x)) AS n2
  FROM q a JOIN q b ON b.vec_id % 100 = 0 AND a.vec_id <> b.vec_id
),
scored AS (
  SELECT query_id, neighbor_id,
         CAST(dotq AS DOUBLE) / (sqrt(CAST(n1 AS DOUBLE)) * sqrt(CAST(n2 AS DOUBLE))) AS cos_sim
  FROM pairs
),
ranked AS (
  SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY cos_sim DESC, neighbor_id ASC) AS rank
  FROM scored
)
SELECT query_id, neighbor_id, cos_sim, rank FROM ranked WHERE rank <= 5"""


def q_embed_ivf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-style ANN (the other scale path next to LSH): coarse
    centroids = every 50th vector; assign corpus vectors to nearest
    centroid; probe the query's top-2 buckets; exact top-5 within.
    Quantized-integer cosine keeps it oracle-exact."""
    emb = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", _quantized("embedding").alias("q")
    )
    cent = emb.filter(F.col("vec_id") % 50 == 0).select(
        F.col("vec_id").alias("centroid_id"), F.col("q").alias("cq")
    )

    emb = spread_small_scan(emb)
    # corpus assignment via NARROW partial-aggregable max_by, not a
    # row_number window over the corpus x centroid expansion (the
    # window form shuffled+sorted all n x k scored rows — the shape
    # fix measured on semdedup_trained in BASELINE.md r5); same
    # values and tie rule (cs DESC, centroid_id ASC)
    ids = (
        emb.crossJoin(F.broadcast(cent))
        .select(
            "vec_id",
            "centroid_id",
            quantized_cosine("q", "cq").alias("cs"),
        )
        .groupBy("vec_id")
        .agg(
            F.max_by(
                F.col("centroid_id"), F.struct(F.col("cs"), -F.col("centroid_id"))
            ).alias("bucket")
        )
    )
    assigned = emb.join(ids, "vec_id").select("vec_id", "q", "bucket")
    # probes: filter to the query subset BEFORE scoring (100x less
    # work); nprobe=2 per query, so the tiny window is fine here
    w_assign = Window.partitionBy("vec_id").orderBy(F.desc("cs"), F.asc("centroid_id"))
    probes = (
        emb.filter(F.col("vec_id") % 100 == 0)
        .crossJoin(F.broadcast(cent))
        .withColumn("cs", quantized_cosine("q", "cq"))
        .withColumn("rn", F.row_number().over(w_assign))
        .filter(F.col("rn") <= 2)
        .select(F.col("vec_id").alias("query_id"), F.col("q").alias("qq"), F.col("centroid_id").alias("bucket"))
    )
    cand = assigned.join(F.broadcast(probes), on="bucket").filter(
        F.col("vec_id") != F.col("query_id")
    )
    scored = cand.select(
        "query_id",
        F.col("vec_id").alias("neighbor_id"),
        quantized_cosine("q", "qq").alias("cos_sim"),
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cos_sim"), F.asc("neighbor_id"))
    return scored.withColumn("rank", F.row_number().over(w)).filter(F.col("rank") <= 5)


SQL_EMBED_IVF = f"""
WITH q AS (
  SELECT vec_id, list_transform(embedding, x -> CAST(round(CAST(x AS DOUBLE) * {_Q}) AS BIGINT)) AS q
  FROM embeddings
),
cent AS (SELECT vec_id AS centroid_id, q AS cq FROM q WHERE vec_id % 50 = 0),
scored_c AS (
  SELECT a.vec_id, a.q, c.centroid_id,
         CAST(list_sum(list_transform(generate_series(1, len(a.q)), i -> a.q[i] * c.cq[i])) AS DOUBLE)
         / (sqrt(CAST(list_sum(list_transform(a.q, x -> x * x)) AS DOUBLE))
            * sqrt(CAST(list_sum(list_transform(c.cq, x -> x * x)) AS DOUBLE))) AS cs
  FROM q a CROSS JOIN cent c
),
assigned AS (
  SELECT vec_id, q, centroid_id AS bucket FROM (
    SELECT *, row_number() OVER (PARTITION BY vec_id ORDER BY cs DESC, centroid_id ASC) AS rn
    FROM scored_c
  ) WHERE rn = 1
),
probes AS (
  SELECT vec_id AS query_id, q AS qq, centroid_id AS bucket FROM (
    SELECT *, row_number() OVER (PARTITION BY vec_id ORDER BY cs DESC, centroid_id ASC) AS rn
    FROM scored_c WHERE vec_id % 100 = 0
  ) WHERE rn <= 2
),
cand AS (
  SELECT p.query_id, a.vec_id AS neighbor_id,
         CAST(list_sum(list_transform(generate_series(1, len(a.q)), i -> a.q[i] * p.qq[i])) AS DOUBLE)
         / (sqrt(CAST(list_sum(list_transform(a.q, x -> x * x)) AS DOUBLE))
            * sqrt(CAST(list_sum(list_transform(p.qq, x -> x * x)) AS DOUBLE))) AS cos_sim
  FROM assigned a JOIN probes p ON a.bucket = p.bucket AND a.vec_id <> p.query_id
)
SELECT query_id, neighbor_id, cos_sim, rank FROM (
  SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY cos_sim DESC, neighbor_id ASC) AS rank
  FROM cand
) WHERE rank <= 5"""


_ND_BANDS = 8
# 8 bits per band since r6 (was 4): at the deliberately-dense tau=0.45
# the 4-bit bands collided on ~1M candidate pairs at sf0.1 (48 s at the
# 10x replica scale, BASELINE.md r5) — background-pair collision odds
# fall ~2x per added bit (random vectors agree on a plane w.p. 1/2), so
# 8-bit bands cut the candidate quadratic ~16x while true near-dups
# (cos >= 0.9, per-plane agreement ~0.86) still collide at ~0.3/band.
# Recall at the stress tau is deliberately partial — the entry is
# oracle-exact regardless because the oracle replays the same planes.
_ND_PLANES = 8  # bits per band


def q_embed_near_dup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-duplicate pairs (dedup family over
    vectors) — the 100-TB banded-LSH plan as the CATALOGED query:
    candidate pairs share at least one of 8 random-hyperplane band
    signatures (md5-derived ±1 planes, seedless), then exact
    quantized-integer cosine >= 0.45 within candidates. No cartesian:
    each band is a shuffle on a small int signature.

    Oracle-exact because the oracle SQL replicates the SAME md5
    hyperplanes (md5 hex is portable across engines), so the candidate
    sets — not just the scores — match bit-for-bit. The O(n^2) exact
    form stays available as ``similarity.exact_near_dup_pairs`` for
    bounded-n validation/recall tests."""
    raw = load_table(spark, sf_dir, "embeddings")
    # probe the embedding width once (1-row job) so the hyperplanes
    # are baked in as literals — executors do multiply-adds, no md5
    head = raw.select(F.size("embedding")).head()
    if head is None:  # empty table: contract schema, no dim to probe
        return spark.createDataFrame(
            [], "id_a LONG, id_b LONG, cos_sim DOUBLE"
        )
    dim = head[0]
    emb = raw.select("vec_id", _quantized("embedding").alias("q"))
    # single-file small table would compute all 32 plane dots in one
    # task; spread rows across the cluster first (no-op when the scan
    # already has >= defaultParallelism splits — corpus scale)
    emb = spread_small_scan(emb)
    band_sigs = band_sig_array("`q`", _ND_BANDS, _ND_PLANES, dim)
    # At this threshold (0.45, barely above the background cosine
    # distribution) 4-bit bands collide densely: ~1M candidate pairs
    # from 5k vectors at sf0.1. Carrying the vectors + hoisted norms
    # THROUGH the band join (n_bands × corpus rows, ~MBs) and scoring
    # inline is cheaper than shuffling the 1M-pair candidate list
    # into two vector joins; dedup happens AFTER the threshold filter
    # when only the surviving pairs (~100 rows) shuffle. For sparse
    # candidates (high thresholds) the opposite shape wins — shuffle
    # skinny (id, band, sig) and join vectors back per candidate.
    nrm = F.aggregate(
        F.transform("q", lambda x: x * x), F.lit(0).cast("long"), lambda s, x: s + x
    )
    # pin the per-vector row (q, norm, 64 plane dots -> 8 sigs) ONCE
    # before the band explode: the explode feeds both sides of the
    # self-join, which stop being exchange-identical under AQE's
    # broadcast conversion — without the cut the whole signature
    # build executes twice (initial-plan audit r12). One row per
    # vector materializes; the explode itself is cheap.
    sig1 = pin(
        emb.withColumn("n", nrm).withColumn("bs_all", band_sigs), eager=False
    )
    d = sig1.select(
        "vec_id", "q", "n", F.explode("bs_all").alias("bs")
    ).select(
        "vec_id", "q", "n", F.col("bs.band").alias("band"), F.col("bs.sig").alias("sig")
    )
    a = d.select(
        F.col("vec_id").alias("id_a"), F.col("q").alias("qa"), F.col("n").alias("na"),
        "band", "sig",
    )
    b = d.select(
        F.col("vec_id").alias("id_b"), F.col("q").alias("qb"), F.col("n").alias("nb"),
        "band", "sig",
    )
    j = a.join(b, on=["band", "sig"]).filter(F.col("id_a") < F.col("id_b"))
    dotq = F.aggregate(
        F.zip_with("qa", "qb", lambda x, y: x * y), F.lit(0).cast("long"), lambda s, x: s + x
    )
    cos = dotq.cast("double") / (
        F.sqrt(F.col("na").cast("double")) * F.sqrt(F.col("nb").cast("double"))
    )
    return (
        j.select("id_a", "id_b", cos.alias("cos_sim"))
        .filter(F.col("cos_sim") >= 0.45)
        .dropDuplicates(["id_a", "id_b"])
    )


# Oracle: same md5-derived hyperplanes (parity of the first hex digit
# of md5('<plane>:<dim>') -> ±1, exactly similarity.hyperplane_components),
# same banding, same quantized cosine. Plane dots are BIGINT sums
# (Spark's double fold over |q_i| <= 1e7 longs is exact), so the
# sign — and hence every signature bit — matches bit-for-bit.
# The WITH-prefix (through `dup_pairs`) is shared with the
# embed_dup_clusters oracle.
_EMBED_NEAR_DUP_CTE = f"""
WITH q AS (
  SELECT vec_id, list_transform(embedding, x -> CAST(round(CAST(x AS DOUBLE) * {_Q}) AS BIGINT)) AS q
  FROM embeddings
),
dim AS (SELECT unnest(generate_series(0, (SELECT max(len(q)) - 1 FROM q))) AS i),
pl AS (SELECT unnest(generate_series(0, {_ND_BANDS * _ND_PLANES - 1})) AS p),
planes AS (
  SELECT pl.p, dim.i,
         CASE WHEN substr(md5(CAST(pl.p AS VARCHAR) || ':' || CAST(dim.i AS VARCHAR)), 1, 1)
                   IN ('0','2','4','6','8','a','c','e')
              THEN 1 ELSE -1 END AS h
  FROM pl CROSS JOIN dim
),
dimv AS (
  SELECT vec_id, i, q[i + 1] AS qi
  FROM (SELECT vec_id, q, unnest(generate_series(0, len(q) - 1)) AS i FROM q)
),
pdot AS (
  SELECT v.vec_id, pl2.p, sum(v.qi * pl2.h) AS s
  FROM dimv v JOIN planes pl2 ON v.i = pl2.i
  GROUP BY v.vec_id, pl2.p
),
sigs AS (
  SELECT vec_id, p // {_ND_PLANES} AS band,
         CAST(sum(CASE WHEN s > 0 THEN 1 << (p % {_ND_PLANES}) ELSE 0 END) AS BIGINT) AS sig
  FROM pdot GROUP BY vec_id, p // {_ND_PLANES}
),
cand AS (
  SELECT DISTINCT a.vec_id AS id_a, b.vec_id AS id_b
  FROM sigs a JOIN sigs b ON a.band = b.band AND a.sig = b.sig AND a.vec_id < b.vec_id
),
pairs AS (
  SELECT c.id_a, c.id_b,
         list_sum(list_transform(generate_series(1, len(a.q)), i -> a.q[i] * b.q[i])) AS dotq,
         list_sum(list_transform(a.q, x -> x * x)) AS n1,
         list_sum(list_transform(b.q, x -> x * x)) AS n2
  FROM cand c JOIN q a ON a.vec_id = c.id_a JOIN q b ON b.vec_id = c.id_b
),
dup_pairs AS (
  SELECT id_a, id_b,
         CAST(dotq AS DOUBLE) / (sqrt(CAST(n1 AS DOUBLE)) * sqrt(CAST(n2 AS DOUBLE))) AS cos_sim
  FROM pairs
  WHERE CAST(dotq AS DOUBLE) / (sqrt(CAST(n1 AS DOUBLE)) * sqrt(CAST(n2 AS DOUBLE))) >= 0.45
)"""

SQL_EMBED_NEAR_DUP = f"""{_EMBED_NEAR_DUP_CTE}
SELECT id_a, id_b, cos_sim FROM dup_pairs"""


_ANN_BANDS = 4
_ANN_PLANES = 4


def q_embed_lsh_ann(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANN scale path: banded random-hyperplane LSH bucketing
    (md5-derived ±1 planes, the same portable construction
    embed_near_dup oracles), exact quantized-integer cosine within
    shared buckets, top-5 per query. Fully oracled: integer plane
    dots make every signature bit — hence the candidate set — and
    every cosine bit-identical cross-engine (was rows-only in r2)."""
    raw = load_table(spark, sf_dir, "embeddings")
    head = raw.select(F.size("embedding")).head()
    if head is None:  # empty table: contract schema, no dim to probe
        return spark.createDataFrame(
            [],
            "query_id LONG, neighbor_id LONG, cos_sim DOUBLE, rank INT",
        )
    dim = head[0]
    emb = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", _quantized("embedding").alias("q")
    )
    emb = spread_small_scan(emb)
    nrm = F.aggregate(
        F.transform("q", lambda x: x * x), F.lit(0).cast("long"), lambda s, x: s + x
    )
    band_sigs = band_sig_array("`q`", _ANN_BANDS, _ANN_PLANES, dim)
    # pin the per-vector signatures once: the corpus side and the
    # broadcast query side both derive from d, so without the cut the
    # plane-dot build executes twice (same self-join shape as
    # embed_near_dup; initial-plan audit r12)
    sig1 = pin(
        emb.withColumn("n", nrm).withColumn("bs_all", band_sigs), eager=False
    )
    d = sig1.select(
        "vec_id", "q", "n", F.explode("bs_all").alias("bs")
    ).select(
        "vec_id", "q", "n", F.col("bs.band").alias("band"), F.col("bs.sig").alias("sig")
    )
    qs = d.filter(F.col("vec_id") % 100 == 0).select(
        F.col("vec_id").alias("query_id"),
        F.col("q").alias("qq"),
        F.col("n").alias("qn"),
        "band",
        "sig",
    )
    cand = (
        d.join(F.broadcast(qs), on=["band", "sig"])
        .filter(F.col("vec_id") != F.col("query_id"))
        .dropDuplicates(["query_id", "vec_id"])
    )
    dotq = F.aggregate(
        F.zip_with("q", "qq", lambda x, y: x * y), F.lit(0).cast("long"), lambda s, x: s + x
    )
    cos = dotq.cast("double") / (
        F.sqrt(F.col("n").cast("double")) * F.sqrt(F.col("qn").cast("double"))
    )
    scored = cand.select(
        "query_id", F.col("vec_id").alias("neighbor_id"), cos.alias("cos_sim")
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cos_sim"), F.asc("neighbor_id"))
    return scored.withColumn("rank", F.row_number().over(w)).filter(F.col("rank") <= 5)


SQL_EMBED_LSH_ANN = f"""
WITH q AS (
  SELECT vec_id, list_transform(embedding, x -> CAST(round(CAST(x AS DOUBLE) * {_Q}) AS BIGINT)) AS q
  FROM embeddings
),
dim AS (SELECT unnest(generate_series(0, (SELECT max(len(q)) - 1 FROM q))) AS i),
pl AS (SELECT unnest(generate_series(0, {_ANN_BANDS * _ANN_PLANES - 1})) AS p),
planes AS (
  SELECT pl.p, dim.i,
         CASE WHEN substr(md5(CAST(pl.p AS VARCHAR) || ':' || CAST(dim.i AS VARCHAR)), 1, 1)
                   IN ('0','2','4','6','8','a','c','e')
              THEN 1 ELSE -1 END AS h
  FROM pl CROSS JOIN dim
),
dimv AS (
  SELECT vec_id, i, q[i + 1] AS qi
  FROM (SELECT vec_id, q, unnest(generate_series(0, len(q) - 1)) AS i FROM q)
),
pdot AS (
  SELECT v.vec_id, pl2.p, sum(v.qi * pl2.h) AS s
  FROM dimv v JOIN planes pl2 ON v.i = pl2.i
  GROUP BY v.vec_id, pl2.p
),
sigs AS (
  SELECT vec_id, p // {_ANN_PLANES} AS band,
         CAST(sum(CASE WHEN s > 0 THEN 1 << (p % {_ANN_PLANES}) ELSE 0 END) AS BIGINT) AS sig
  FROM pdot GROUP BY vec_id, p // {_ANN_PLANES}
),
qs AS (SELECT * FROM sigs WHERE vec_id % 100 = 0),
cand AS (
  SELECT DISTINCT c.vec_id AS neighbor_id, p.vec_id AS query_id
  FROM sigs c JOIN qs p ON c.band = p.band AND c.sig = p.sig AND c.vec_id <> p.vec_id
),
scored AS (
  SELECT cand.query_id, cand.neighbor_id,
         CAST(list_sum(list_transform(generate_series(1, len(a.q)), i -> a.q[i] * b.q[i])) AS DOUBLE)
         / (sqrt(CAST(list_sum(list_transform(a.q, x -> x * x)) AS DOUBLE))
            * sqrt(CAST(list_sum(list_transform(b.q, x -> x * x)) AS DOUBLE))) AS cos_sim
  FROM cand JOIN q a ON a.vec_id = cand.neighbor_id JOIN q b ON b.vec_id = cand.query_id
)
SELECT query_id, neighbor_id, cos_sim, rank FROM (
  SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY cos_sim DESC, neighbor_id ASC) AS rank
  FROM scored
) WHERE rank <= 5"""


_KM_K = 8
_KM_ITERS = 3
_KM_NPROBE = 2
_KM_TOPK = 5


def q_embed_kmeans_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF ANN over TRAINED coarse centroids: Lloyd k-means (k=8,
    3 rounds, deterministic md5-seeded init) -> nprobe bucket search.
    The trained-quantizer variant of ``embed_ivf_topk``.

    Oracle-exact by construction: the trainer runs on quantized
    integer-valued vectors (round(x*1e7), |q| <= 5.8e6 here), so every
    accumulation the round-trip depends on is exact — cluster-mean
    numerators are integer-valued double sums < 2^53 (order-free),
    each mean is ONE division of identical operands in both engines,
    and the final search's dots/norms are exact BIGINT folds. The
    only order-sensitive float arithmetic left is the per-row
    assignment dot against normalized float centroids, which both
    engines evaluate as the same left-to-right index-order fold
    (Spark ``aggregate``, DuckDB ``list_reduce``). The DuckDB mirror
    replays the identical 3 Lloyd rounds unrolled
    (:func:`_kmeans_ivf_sql`); recall and objective descent are
    asserted in tests/test_scale.py."""
    from wq_data_pipeline_spark.operators.similarity import ivf_topk, kmeans_centroids
    from wq_data_pipeline_spark.operators.stash import session_stash

    emb = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", _quantized("embedding").alias("q")
    )
    # trained state is deterministic in (input content, params) and
    # tiny (k rows) -> one build per session (operators/stash.py)
    cent = session_stash(
        spark,
        sf_dir,
        "embeddings",
        ("kmeans", _KM_K, _KM_ITERS),
        lambda: kmeans_centroids(emb, k=_KM_K, iters=_KM_ITERS, vec_col="q"),
    )
    qs = emb.filter(F.col("vec_id") % 100 == 0)
    out = ivf_topk(emb, qs, cent, k=_KM_TOPK, nprobe=_KM_NPROBE, vec_col="q")
    return out.withColumn("cos_sim", F.round("cos_sim", 6))


def _lr_fold(expr: str) -> str:
    return f"list_reduce({expr}, (acc, x) -> acc + x)"


def _lr_dots(a: str, b: str) -> str:
    # index-order product fold: a may be BIGINT (cast per element)
    return _lr_fold(
        f"list_transform(generate_series(1, len({a})), i -> CAST({a}[i] AS DOUBLE) * {b}[i])"
    )


def _lr_sq(a: str) -> str:
    return _lr_fold(f"list_transform({a}, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))")


def _kmeans_prefix_sql(k_sql: str | None = None) -> str:
    """Shared DuckDB WITH-prefix for the trained-centroid entries:
    quantized corpus (``q``), md5-seeded init, the same ``_KM_ITERS``
    Lloyd rounds unrolled as CTE blocks (normalize -> fold-order
    assignment -> exact integer means -> empty clusters keep their
    previous centroid), ending at ``av`` = every vector's final
    bucket. All list folds use ``list_reduce`` (left-to-right,
    matching Spark's ``aggregate``). Consumed by
    :func:`_kmeans_ivf_sql` (nprobe search tail, fixed k=_KM_K) and
    the ``semdedup_trained`` oracle (within-cluster pairwise tail).

    ``k_sql``: SQL expression for the seed count — defaults to the
    compile-time ``_KM_K``; the k∝n entries pass a scalar subquery
    (``ceil(count(*)/64.0)``) so the oracle's k tracks the engine's
    runtime ``ceil(n/target)`` at ANY scale factor instead of
    silently replaying a different clustering (ADVICE r5)."""
    fold, dots, sq = _lr_fold, _lr_dots, _lr_sq
    if k_sql is None:
        k_sql = str(_KM_K)

    rounds = []
    for r in range(1, _KM_ITERS + 1):
        prev = f"c{r - 1}"
        rounds.append(f"""
cn{r} AS (
  SELECT cid, list_transform(c, x -> CASE WHEN nn > 0 THEN x / nn ELSE 0.0 END) AS cn
  FROM (SELECT cid, c, sqrt({sq('c')}) AS nn FROM {prev})
),
a{r} AS (
  SELECT vec_id, q, cid FROM (
    SELECT vec_id, q, cid,
           row_number() OVER (PARTITION BY vec_id ORDER BY cs DESC, cid ASC) AS rn
    FROM (SELECT v.vec_id, v.q, c.cid, {dots('v.q', 'c.cn')} AS cs
          FROM q v CROSS JOIN cn{r} c)
  ) WHERE rn = 1
),
m{r} AS (
  SELECT cid, list(m ORDER BY pos) AS c FROM (
    SELECT cid, pos, CAST(sum(x) AS DOUBLE) / count(*) AS m
    FROM (SELECT cid, unnest(generate_series(1, len(q))) AS pos, unnest(q) AS x
          FROM a{r})
    GROUP BY cid, pos
  ) GROUP BY cid
),
c{r} AS (
  SELECT p.cid, coalesce(m{r}.c, p.c) AS c FROM {prev} p LEFT JOIN m{r} USING (cid)
)""")
    last = f"c{_KM_ITERS}"
    return f"""
WITH q AS (
  SELECT vec_id, list_transform(embedding, x -> CAST(round(CAST(x AS DOUBLE) * {_Q}) AS BIGINT)) AS q
  FROM embeddings
),
c0 AS (
  SELECT row_number() OVER (ORDER BY md5(CAST(vec_id AS VARCHAR))) - 1 AS cid,
         list_transform(q, x -> CAST(x AS DOUBLE)) AS c
  FROM q ORDER BY md5(CAST(vec_id AS VARCHAR)) LIMIT ({k_sql})
),{",".join(rounds)},
scored_c AS (
  SELECT v.vec_id, v.q, c.cid,
         {dots('v.q', 'c.c')} / (sqrt({sq('v.q')}) * sqrt({sq('c.c')})) AS cs
  FROM q v CROSS JOIN {last} c
),
av AS (
  SELECT vec_id, q, cid AS bucket FROM (
    SELECT vec_id, q, cid,
           row_number() OVER (PARTITION BY vec_id ORDER BY cs DESC, cid ASC) AS rn
    FROM scored_c
  ) WHERE rn = 1
)"""


def _kmeans_ivf_sql() -> str:
    """DuckDB replay of q_embed_kmeans_ivf: the shared Lloyd-round
    prefix (:func:`_kmeans_prefix_sql`), then the nprobe IVF search."""
    dots, sq = _lr_dots, _lr_sq
    return f"""{_kmeans_prefix_sql()},
pr AS (
  SELECT vec_id AS query_id, q AS qq, cid AS bucket FROM (
    SELECT vec_id, q, cid,
           row_number() OVER (PARTITION BY vec_id ORDER BY cs DESC, cid ASC) AS rn
    FROM scored_c WHERE vec_id % 100 = 0
  ) WHERE rn <= {_KM_NPROBE}
),
sc AS (
  SELECT p.query_id, a.vec_id AS neighbor_id,
         {dots('a.q', 'list_transform(p.qq, x -> CAST(x AS DOUBLE))')}
         / (sqrt({sq('a.q')}) * sqrt({sq('p.qq')})) AS cos_sim
  FROM av a JOIN pr p USING (bucket)
  WHERE a.vec_id <> p.query_id
)
SELECT query_id, neighbor_id, round(cos_sim, 6) AS cos_sim, rank FROM (
  SELECT query_id, neighbor_id, cos_sim,
         row_number() OVER (PARTITION BY query_id
                            ORDER BY cos_sim DESC, neighbor_id ASC) AS rank
  FROM sc
) WHERE rank <= {_KM_TOPK}"""


SQL_EMBED_KMEANS_IVF = _kmeans_ivf_sql()


# BM25 constants — shared between the Spark query and the oracle SQL
_BM25_TERMS = ("hash", "join", "filter")
_BM25_K1 = 1.2
_BM25_B = 0.75
_BM25_TOPN = 20


def q_tfidf_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-doc top-3 terms by tf·idf (BM25-smoothed idf), ties by
    term — the corpus-exploration side of ranked retrieval."""
    from wq_data_pipeline_spark.operators.retrieval import tfidf_top_terms

    return tfidf_top_terms(load_table(spark, sf_dir, "documents"), k=3)


SQL_TFIDF = f"""{SQL_WORDS},
t AS (SELECT doc_id, unnest(toks) AS term FROM w),
tf AS (SELECT doc_id, term, count(*) AS tf FROM t GROUP BY doc_id, term),
sc AS (
  SELECT doc_id, term, tf,
         round(tf * ln(((SELECT count(*) FROM documents) - count(*) OVER (PARTITION BY term) + 0.5)
                       / (count(*) OVER (PARTITION BY term) + 0.5) + 1.0), 6) AS score
  FROM tf
)
SELECT doc_id, term, tf, score, rank FROM (
  SELECT *, row_number() OVER (PARTITION BY doc_id ORDER BY score DESC, term ASC) AS rank
  FROM sc
) WHERE rank <= 3"""


def q_bm25_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BM25 top-20 docs for a fixed 3-term query; per-term scores
    quantized to integer micros before the per-doc sum so the ranking
    is accumulation-order-independent."""
    from wq_data_pipeline_spark.operators.retrieval import bm25_search

    return bm25_search(
        load_table(spark, sf_dir, "documents"),
        _BM25_TERMS,
        topn=_BM25_TOPN,
        k1=_BM25_K1,
        b=_BM25_B,
    )


_BM25_TERMS_SQL = ", ".join(f"'{t}'" for t in _BM25_TERMS)

# The BM25 WITH-chain ending in a `bm25 (doc_id, score, rank)` CTE —
# shared by the bm25_search oracle and the r11 hybrid_rrf oracle so
# the text-ranking rule cannot drift between the standalone entry and
# the fusion entry.
SQL_BM25_CTES = f"""{SQL_WORDS},
t AS (SELECT doc_id, unnest(toks) AS term FROM w),
tfall AS (SELECT doc_id, term, count(*) AS tf FROM t GROUP BY doc_id, term),
tfd AS (SELECT *, CAST(sum(tf) OVER (PARTITION BY doc_id) AS BIGINT) AS dl FROM tfall),
q AS (SELECT * FROM tfd WHERE term IN ({_BM25_TERMS_SQL})),
scored AS (
  SELECT doc_id,
         CAST(round(
           ln(((SELECT count(*) FROM documents) - count(*) OVER (PARTITION BY term) + 0.5)
              / (count(*) OVER (PARTITION BY term) + 0.5) + 1.0)
           * ((tf * ({_BM25_K1} + 1.0))
              / (tf + {_BM25_K1} * (1.0 - {_BM25_B} + ({_BM25_B} * dl)
                 / (SELECT avg(len(toks)) FROM w))))
           * 1000000.0) AS BIGINT) AS m
  FROM q
),
bm25 AS (
  SELECT doc_id, score, rank FROM (
    SELECT doc_id, score, row_number() OVER (ORDER BY score DESC, doc_id ASC) AS rank
    FROM (SELECT doc_id, CAST(sum(m) AS DOUBLE) / 1e6 AS score FROM scored GROUP BY doc_id)
  ) WHERE rank <= {_BM25_TOPN}
)"""

SQL_BM25 = f"""{SQL_BM25_CTES}
SELECT doc_id, score, rank FROM bm25"""


_SD_TAU = 0.44  # stress threshold for the synthetic embeddings (real
# corpora use ~0.97); at 0.44 the sf0.01/sf0.1 tables yield 9/42 dups
_SD_STRIDE = 64


def q_semdedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup (Abbas et al. 2023): coarse-cluster the embeddings
    (deterministic stride-64 centroids so the oracle can replay the
    assignment), then inside each cluster flag every vector whose
    quantized-integer cosine to an earlier (lower-id) member is
    >= tau. One row per vector with (cluster_id, is_dup,
    n_dup_earlier, max_sim_earlier)."""
    from wq_data_pipeline_spark.operators.similarity import semdedup

    emb = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", _quantized("embedding").alias("q")
    )
    # single-file scan -> one input split: spread rows before the
    # centroid-count-wide scoring fan-out (r1 single-file-scan rule)
    from wq_data_pipeline_spark.operators.scale import spread_small_scan

    emb = spread_small_scan(emb)
    cent = emb.filter(F.col("vec_id") % _SD_STRIDE == 0).select(
        F.col("vec_id").alias("centroid_id"), F.col("q").alias("cq")
    )
    return semdedup(emb, cent, id_col="vec_id", vec_col="q", tau=_SD_TAU)


SQL_SEMDEDUP = f"""
WITH q AS (
  SELECT vec_id, list_transform(embedding, x -> CAST(round(CAST(x AS DOUBLE) * {_Q}) AS BIGINT)) AS q
  FROM embeddings
),
cent AS (SELECT vec_id AS centroid_id, q AS cq FROM q WHERE vec_id % {_SD_STRIDE} = 0),
scored AS (
  SELECT a.vec_id, a.q, c.centroid_id,
         CAST(list_sum(list_transform(generate_series(1, len(a.q)), i -> a.q[i] * c.cq[i])) AS DOUBLE)
         / (sqrt(CAST(list_sum(list_transform(a.q, x -> x * x)) AS DOUBLE))
            * sqrt(CAST(list_sum(list_transform(c.cq, x -> x * x)) AS DOUBLE))) AS cs
  FROM q a CROSS JOIN cent c
),
assigned AS (
  SELECT vec_id, q, centroid_id AS cluster_id FROM (
    SELECT *, row_number() OVER (PARTITION BY vec_id ORDER BY cs DESC, centroid_id ASC) AS rn
    FROM scored
  ) WHERE rn = 1
),
sims AS (
  SELECT a.vec_id,
         CAST(list_sum(list_transform(generate_series(1, len(a.q)), i -> a.q[i] * b.q[i])) AS DOUBLE)
         / (sqrt(CAST(list_sum(list_transform(a.q, x -> x * x)) AS DOUBLE))
            * sqrt(CAST(list_sum(list_transform(b.q, x -> x * x)) AS DOUBLE))) AS sim
  FROM assigned a JOIN assigned b
    ON a.cluster_id = b.cluster_id AND b.vec_id < a.vec_id
),
dup AS (
  SELECT vec_id, count(*) AS n_dup_earlier, round(max(sim), 6) AS max_sim_earlier
  FROM sims WHERE sim >= {_SD_TAU} GROUP BY vec_id
)
SELECT a.vec_id, a.cluster_id,
       d.vec_id IS NOT NULL AS is_dup,
       CAST(coalesce(d.n_dup_earlier, 0) AS BIGINT) AS n_dup_earlier,
       d.max_sim_earlier
FROM assigned a LEFT JOIN dup d USING (vec_id)"""


# ----------------------------------------------------------------- PQ encode

_PQ_M = 4  # subspaces
_PQ_DSUB = 16  # dims per subspace (4 x 16 = the 64-dim embedding)
_PQ_K = 16  # centroids per subspace codebook


def _pq_subvectors(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(vec_id, s, sub): each embedding quantized to BIGINT and split
    into _PQ_M subspace slices."""
    raw = load_table(spark, sf_dir, "embeddings")
    q = raw.select("vec_id", _quantized("embedding").alias("q"))
    return q.select(
        "vec_id",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(s).alias("s"),
                        F.slice("q", s * _PQ_DSUB + 1, _PQ_DSUB).alias("sub"),
                    )
                    for s in range(_PQ_M)
                ]
            )
        ).alias("e"),
    ).select("vec_id", F.col("e.s").alias("s"), F.col("e.sub").alias("sub"))


def _pq_codebook(sub: DataFrame) -> DataFrame:
    """(c, s, csub): the deterministic 16-centroid-per-subspace
    codebook (lowest vec_ids as trained centroids)."""
    return sub.filter(F.col("vec_id") < _PQ_K).select(
        F.col("vec_id").alias("c"), "s", F.col("sub").alias("csub")
    )


def _pq_dist(a: str = "sub", b: str = "csub") -> F.Column:
    """Exact BIGINT squared-L2 between two quantized sub-vectors.
    Built lazily: higher-order Columns need an active session, and the
    catalog module is imported before the driver creates one."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: (x - y) * (x - y)),
        F.lit(0).cast("long"),
        lambda acc, x: acc + x,
    )


def _pq_best(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(vec_id, s, code, err): nearest codebook centroid per subspace,
    deterministic tie-break on the lower centroid id."""
    sub = _pq_subvectors(spark, sf_dir)
    cb = _pq_codebook(sub)
    scored = sub.join(F.broadcast(cb), "s").select(
        "vec_id", "s", "c", _pq_dist().alias("d")
    )
    return (
        scored.groupBy("vec_id", "s")
        .agg(F.min(F.struct("d", "c")).alias("m"))
        .select("vec_id", "s", F.col("m.c").alias("code"), F.col("m.d").alias("err"))
    )


def q_pq_encode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Product-quantization codes over the embeddings table. The
    codebook is deterministic (the 16 lowest vec_ids act as trained
    centroids — swap in k-means centroids in production; the encode
    shape is identical). Each vector becomes 4 small codes plus the
    exact quantized-integer reconstruction error."""
    best = _pq_best(spark, sf_dir)
    return best.groupBy("vec_id").agg(
        *[
            F.max(F.when(F.col("s") == s, F.col("code"))).alias(f"code_{s}")
            for s in range(_PQ_M)
        ],
        F.sum("err").alias("err_sum"),
    )


SQL_PQ_ENCODE = f"""
WITH q AS (
  SELECT vec_id,
         list_transform(embedding, x -> CAST(round(CAST(x AS DOUBLE) * {_Q}) AS BIGINT)) AS q
  FROM embeddings
),
sub AS (
  SELECT vec_id, s, list_slice(q, s * {_PQ_DSUB} + 1, s * {_PQ_DSUB} + {_PQ_DSUB}) AS sub
  FROM q CROSS JOIN (SELECT unnest(generate_series(0, {_PQ_M - 1})) AS s) ss
),
cb AS (SELECT vec_id AS c, s, sub AS csub FROM sub WHERE vec_id < {_PQ_K}),
d AS (
  SELECT a.vec_id, a.s, cb.c,
         CAST(list_sum(list_transform(generate_series(1, {_PQ_DSUB}),
              i -> (a.sub[i] - cb.csub[i]) * (a.sub[i] - cb.csub[i]))) AS BIGINT) AS dist
  FROM sub a JOIN cb ON a.s = cb.s
),
best AS (
  SELECT vec_id, s, c, dist,
         row_number() OVER (PARTITION BY vec_id, s ORDER BY dist, c) AS rn
  FROM d
)
SELECT vec_id,
       max(CASE WHEN s = 0 THEN c END) AS code_0,
       max(CASE WHEN s = 1 THEN c END) AS code_1,
       max(CASE WHEN s = 2 THEN c END) AS code_2,
       max(CASE WHEN s = 3 THEN c END) AS code_3,
       CAST(sum(dist) AS BIGINT) AS err_sum
FROM best WHERE rn = 1 GROUP BY vec_id"""


_PQ_TOPK = 10
_PQ_QUERY_MOD = 100  # query set: vec_id % 100 == 0 (same as LSH ANN)


def q_pq_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PQ asymmetric-distance top-k search (ADC, Jégou et al. 2011
    §IV): each query builds a 4×16 lookup table of exact
    quantized-integer distances from its sub-vectors to every codebook
    centroid; every database vector is then scored by FOUR table
    lookups on its codes — never touching the raw 64-dim vector.

    Scale shape: the LUT is queries × 64 rows (broadcast); the
    corpus-side work is one broadcast join on (s, code) over the
    4-rows-per-vector code stream plus one hash agg — the raw vector
    array never shuffles. At 1B vectors the shuffled payload is 4
    BIGINTs/vector vs 64 floats: that ratio is the reason PQ exists."""
    best = _pq_best(spark, sf_dir).select("vec_id", "s", "code")
    sub = _pq_subvectors(spark, sf_dir)
    cb = _pq_codebook(sub)
    qs = sub.filter(F.col("vec_id") % _PQ_QUERY_MOD == 0).select(
        F.col("vec_id").alias("query_id"), "s", F.col("sub").alias("qsub")
    )
    lut = qs.join(cb, "s").select(
        "query_id",
        "s",
        "c",
        _pq_dist("qsub", "csub").alias("d"),
    )
    scored = best.join(
        F.broadcast(lut), (best.s == lut.s) & (best.code == lut.c)
    ).select("vec_id", "query_id", "d")
    adc = (
        scored.groupBy("query_id", "vec_id")
        .agg(F.sum("d").alias("adc_dist"))
        .filter(F.col("vec_id") != F.col("query_id"))
    )
    w = Window.partitionBy("query_id").orderBy("adc_dist", "vec_id")
    return (
        adc.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= _PQ_TOPK)
        .select("query_id", F.col("vec_id").alias("neighbor_id"), "adc_dist", "rank")
    )


SQL_PQ_SEARCH = f"""
WITH q AS (
  SELECT vec_id,
         list_transform(embedding, x -> CAST(round(CAST(x AS DOUBLE) * {_Q}) AS BIGINT)) AS q
  FROM embeddings
),
sub AS (
  SELECT vec_id, s, list_slice(q, s * {_PQ_DSUB} + 1, s * {_PQ_DSUB} + {_PQ_DSUB}) AS sub
  FROM q CROSS JOIN (SELECT unnest(generate_series(0, {_PQ_M - 1})) AS s) ss
),
cb AS (SELECT vec_id AS c, s, sub AS csub FROM sub WHERE vec_id < {_PQ_K}),
d AS (
  SELECT a.vec_id, a.s, cb.c,
         CAST(list_sum(list_transform(generate_series(1, {_PQ_DSUB}),
              i -> (a.sub[i] - cb.csub[i]) * (a.sub[i] - cb.csub[i]))) AS BIGINT) AS dist
  FROM sub a JOIN cb ON a.s = cb.s
),
codes AS (
  SELECT vec_id, s, c AS code FROM (
    SELECT vec_id, s, c, row_number() OVER (PARTITION BY vec_id, s ORDER BY dist, c) AS rn
    FROM d
  ) WHERE rn = 1
),
lut AS (
  SELECT qs.vec_id AS query_id, qs.s, cb.c,
         CAST(list_sum(list_transform(generate_series(1, {_PQ_DSUB}),
              i -> (qs.sub[i] - cb.csub[i]) * (qs.sub[i] - cb.csub[i]))) AS BIGINT) AS d
  FROM (SELECT * FROM sub WHERE vec_id % {_PQ_QUERY_MOD} = 0) qs
  JOIN cb ON qs.s = cb.s
),
adc AS (
  SELECT l.query_id, c2.vec_id, CAST(sum(l.d) AS BIGINT) AS adc_dist
  FROM codes c2 JOIN lut l ON c2.s = l.s AND c2.code = l.c
  GROUP BY l.query_id, c2.vec_id
)
SELECT query_id, vec_id AS neighbor_id, adc_dist, rank FROM (
  SELECT query_id, vec_id, adc_dist,
         row_number() OVER (PARTITION BY query_id ORDER BY adc_dist, vec_id) AS rank
  FROM adc WHERE vec_id <> query_id
) WHERE rank <= {_PQ_TOPK}"""


_IVF_C_LO = 16  # coarse centroids: vec_ids [16, 32) — disjoint from the
_IVF_C_HI = 32  # PQ codebook ids [0, 16) so the two quantizers differ
_IVF_NPROBE = 4


def q_ivf_pq_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-PQ search (Jégou et al. 2011 §V — the billion-vector
    production stack): the index holds, per vector, ONE coarse bucket
    id plus 4 PQ codes (the IVFADC layout, non-residual variant; the
    residual refinement changes the encode, not the plan shape). A
    query exactly scores the 16 coarse centroids, probes its nprobe=4
    nearest buckets, and ADC-scores only the vectors in those buckets
    via its broadcast LUT.

    Scale shape: index build is one broadcast coarse-assign over the
    vector scan plus one join with the code stream; search touches
    only probed buckets — candidates shrink by ~nprobe/n_coarse vs
    pq_search's full scan, and the raw vectors never shuffle."""
    raw = load_table(spark, sf_dir, "embeddings").repartition(
        spark.sparkContext.defaultParallelism
    )
    q = raw.select("vec_id", _quantized("embedding").alias("q"))
    coarse = q.filter(
        (F.col("vec_id") >= _IVF_C_LO) & (F.col("vec_id") < _IVF_C_HI)
    ).select(F.col("vec_id").alias("cid"), F.col("q").alias("cq"))
    d64 = q.crossJoin(F.broadcast(coarse)).select(
        "vec_id",
        "cid",
        F.aggregate(
            F.zip_with("q", "cq", lambda a, b: (a - b) * (a - b)),
            F.lit(0).cast("long"),
            lambda acc, x: acc + x,
        ).alias("dist"),
    )
    asg = (
        d64.groupBy("vec_id")
        .agg(F.min(F.struct("dist", "cid")).alias("m"))
        .select("vec_id", F.col("m.cid").alias("coarse_id"))
    )
    codes = _pq_best(spark, sf_dir).select("vec_id", "s", "code")
    index = codes.join(asg, "vec_id")  # the IVF-PQ index: bucket + codes

    wp = Window.partitionBy("vec_id").orderBy("dist", "cid")
    probes = (
        d64.filter(F.col("vec_id") % _PQ_QUERY_MOD == 0)
        .withColumn("rn", F.row_number().over(wp))
        .filter(F.col("rn") <= _IVF_NPROBE)
        .select(F.col("vec_id").alias("query_id"), F.col("cid").alias("coarse_id"))
    )
    sub = _pq_subvectors(spark, sf_dir)
    cb = _pq_codebook(sub)
    qs = sub.filter(F.col("vec_id") % _PQ_QUERY_MOD == 0).select(
        F.col("vec_id").alias("query_id"), "s", F.col("sub").alias("qsub")
    )
    lut = qs.join(cb, "s").select(
        "query_id", "s", "c", _pq_dist("qsub", "csub").alias("d")
    )
    cand = index.join(F.broadcast(probes), "coarse_id")
    scored = cand.join(
        F.broadcast(lut),
        (cand.s == lut.s) & (cand.code == lut.c) & (cand.query_id == lut.query_id),
    ).select(index.vec_id, cand.query_id, "coarse_id", "d")
    adc = (
        scored.groupBy("query_id", "vec_id", "coarse_id")
        .agg(F.sum("d").alias("adc_dist"))
        .filter(F.col("vec_id") != F.col("query_id"))
    )
    w = Window.partitionBy("query_id").orderBy("adc_dist", "vec_id")
    return (
        adc.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= _PQ_TOPK)
        .select(
            "query_id",
            F.col("vec_id").alias("neighbor_id"),
            "coarse_id",
            "adc_dist",
            "rank",
        )
    )


SQL_IVF_PQ_SEARCH = f"""
WITH q AS (
  SELECT vec_id,
         list_transform(embedding, x -> CAST(round(CAST(x AS DOUBLE) * {_Q}) AS BIGINT)) AS q
  FROM embeddings
),
sub AS (
  SELECT vec_id, s, list_slice(q, s * {_PQ_DSUB} + 1, s * {_PQ_DSUB} + {_PQ_DSUB}) AS sub
  FROM q CROSS JOIN (SELECT unnest(generate_series(0, {_PQ_M - 1})) AS s) ss
),
cb AS (SELECT vec_id AS c, s, sub AS csub FROM sub WHERE vec_id < {_PQ_K}),
d AS (
  SELECT a.vec_id, a.s, cb.c,
         CAST(list_sum(list_transform(generate_series(1, {_PQ_DSUB}),
              i -> (a.sub[i] - cb.csub[i]) * (a.sub[i] - cb.csub[i]))) AS BIGINT) AS dist
  FROM sub a JOIN cb ON a.s = cb.s
),
codes AS (
  SELECT vec_id, s, c AS code FROM (
    SELECT vec_id, s, c, row_number() OVER (PARTITION BY vec_id, s ORDER BY dist, c) AS rn
    FROM d
  ) WHERE rn = 1
),
coarse AS (SELECT vec_id AS cid, q AS cq FROM q
           WHERE vec_id >= {_IVF_C_LO} AND vec_id < {_IVF_C_HI}),
d64 AS (
  SELECT a.vec_id, c.cid,
         CAST(list_sum(list_transform(generate_series(1, {_PQ_M * _PQ_DSUB}),
              i -> (a.q[i] - c.cq[i]) * (a.q[i] - c.cq[i]))) AS BIGINT) AS dist
  FROM q a CROSS JOIN coarse c
),
asg AS (
  SELECT vec_id, cid AS coarse_id FROM (
    SELECT vec_id, cid, row_number() OVER (PARTITION BY vec_id ORDER BY dist, cid) AS rn
    FROM d64
  ) WHERE rn = 1
),
idx AS (SELECT codes.vec_id, asg.coarse_id, codes.s, codes.code
        FROM codes JOIN asg USING (vec_id)),
probes AS (
  SELECT vec_id AS query_id, cid AS coarse_id FROM (
    SELECT vec_id, cid, row_number() OVER (PARTITION BY vec_id ORDER BY dist, cid) AS rn
    FROM d64 WHERE vec_id % {_PQ_QUERY_MOD} = 0
  ) WHERE rn <= {_IVF_NPROBE}
),
lut AS (
  SELECT qs.vec_id AS query_id, qs.s, cb.c,
         CAST(list_sum(list_transform(generate_series(1, {_PQ_DSUB}),
              i -> (qs.sub[i] - cb.csub[i]) * (qs.sub[i] - cb.csub[i]))) AS BIGINT) AS d
  FROM (SELECT * FROM sub WHERE vec_id % {_PQ_QUERY_MOD} = 0) qs
  JOIN cb ON qs.s = cb.s
),
cand AS (
  SELECT p.query_id, i.vec_id, i.coarse_id, i.s, i.code
  FROM idx i JOIN probes p ON i.coarse_id = p.coarse_id
),
adc AS (
  SELECT cand.query_id, cand.vec_id, cand.coarse_id,
         CAST(sum(l.d) AS BIGINT) AS adc_dist
  FROM cand JOIN lut l
    ON cand.s = l.s AND cand.code = l.c AND cand.query_id = l.query_id
  GROUP BY cand.query_id, cand.vec_id, cand.coarse_id
)
SELECT query_id, vec_id AS neighbor_id, coarse_id, adc_dist, rank FROM (
  SELECT query_id, vec_id, coarse_id, adc_dist,
         row_number() OVER (PARTITION BY query_id ORDER BY adc_dist, vec_id) AS rank
  FROM adc WHERE vec_id <> query_id
) WHERE rank <= {_PQ_TOPK}"""


# --- semdedup_trained -------------------------------------------------------

_SDT_TAU = 0.44  # same stress threshold as the stride `semdedup` entry
_SDT_TARGET = 64  # target cluster size; k = ceil(n / target)


def q_semdedup_trained(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup over TRAINED fixed-k centroids — the at-scale
    composition the stride entry's caveat prescribes (BASELINE.md r5
    scale row: stride centroids grow with n, making exact assignment
    O(n^2/stride), measured exponent 1.56 at 1x/3x/10x; trained k ~
    n/target-size keeps per-cluster pair work bounded, so the whole
    pipeline scales ~linearly).

    Stages: Lloyd k-means on the quantized vectors (k = ceil(n/64),
    3 rounds, md5-seeded deterministic init — identical machinery to
    ``embed_kmeans_ivf``, so at sf0.01 the oracle shares its unrolled
    Lloyd-round prefix verbatim), broadcast-literal assignment of
    every vector to its nearest final centroid, then within-cluster
    earlier-id duplicate marking at tau=0.44 with BIGINT-exact
    quantized cosines (``semdedup_within``)."""
    import math

    from wq_data_pipeline_spark.operators.similarity import (
        cosine,
        kmeans_centroids,
        semdedup_within,
    )

    # single-file scan -> one input split; spread BEFORE the k-way
    # scoring fan-out or the n x k dot products run on one core (the
    # r1 single-file-scan rule; embed_cosine_topk precedent)
    emb = spread_small_scan(
        load_table(spark, sf_dir, "embeddings").select(
            "vec_id", _quantized("embedding").alias("q")
        )
    )
    k = max(1, math.ceil(emb.count() / _SDT_TARGET))
    # on integer-quantized vectors the trainer is bit-exact, so the
    # oracle replays its rounds (_kmeans_prefix_sql) at any scale;
    # trained state is deterministic in (input content, params) and
    # tiny (k rows) -> one build per session (operators/stash.py)
    from wq_data_pipeline_spark.operators.stash import session_stash

    cent = session_stash(
        spark,
        sf_dir,
        "embeddings",
        ("kmeans", k, _KM_ITERS),
        lambda: kmeans_centroids(emb, k=k, iters=_KM_ITERS, vec_col="q"),
    )
    c = cent.select(F.col("centroid_id").alias("_cid"), F.col("q").alias("_cv"))
    # final assignment via NARROW max_by, NOT a per-vector row_number
    # window: the window form shuffled and sorted the full n x k
    # scored expansion (measured 189 s at 10x replica scale); max_by
    # is partial-aggregable so only n rows cross the shuffle, and
    # scoring (vec_id, cid, cs) rows only — the vector array never
    # rides the k-way expansion — cuts the allocation/GC cost. The
    # winning cluster joins back to the scan for the vectors the
    # within-cluster stage needs. Tie rule (highest cosine, lowest
    # centroid id) matches the oracle's ORDER BY cs DESC, cid.
    ids = (
        emb.crossJoin(F.broadcast(c))
        .select("vec_id", F.col("_cid"), cosine("q", "_cv").alias("_cs"))
        .groupBy("vec_id")
        .agg(
            F.max_by(
                F.col("_cid"), F.struct(F.col("_cs"), -F.col("_cid"))
            ).alias("cluster_id")
        )
    )
    # the within-cluster stage reads `assigned` twice (a and b join
    # sides) — pin it so the n x k assignment scoring runs once
    assigned = (
        emb.join(ids, "vec_id")
        .select("vec_id", "q", "cluster_id")
        .localCheckpoint()
    )
    return semdedup_within(assigned, id_col="vec_id", vec_col="q", tau=_SDT_TAU)


def _semdedup_trained_sql() -> str:
    """DuckDB replay: the shared EXACT Lloyd-round prefix (ends at
    ``av`` = final bucket per vector; k is derived IN-SQL as
    ceil(count(*)/target) so the oracle's clustering tracks the
    engine's runtime k at any scale factor — ADVICE r5), then the
    within-cluster earlier-id pairwise tail of SQL_SEMDEDUP."""

    dot = (
        "CAST(list_sum(list_transform(generate_series(1, len(a.q)), "
        "i -> a.q[i] * b.q[i])) AS DOUBLE)"
    )
    nrm = "sqrt(CAST(list_sum(list_transform({v}, x -> x * x)) AS DOUBLE))"
    k_sql = (
        f"SELECT CAST(ceil(count(*) / {_SDT_TARGET}.0) AS BIGINT) FROM embeddings"
    )
    return f"""{_kmeans_prefix_sql(k_sql)},
sims AS (
  SELECT a.vec_id,
         {dot} / ({nrm.format(v="a.q")} * {nrm.format(v="b.q")}) AS sim
  FROM av a JOIN av b
    ON a.bucket = b.bucket AND b.vec_id < a.vec_id
),
dup AS (
  SELECT vec_id, count(*) AS n_dup_earlier, round(max(sim), 6) AS max_sim_earlier
  FROM sims WHERE sim >= {_SDT_TAU} GROUP BY vec_id
)
SELECT av.vec_id, av.bucket AS cluster_id,
       d.vec_id IS NOT NULL AS is_dup,
       CAST(coalesce(d.n_dup_earlier, 0) AS BIGINT) AS n_dup_earlier,
       d.max_sim_earlier
FROM av LEFT JOIN dup d USING (vec_id)"""


SQL_SEMDEDUP_TRAINED = _semdedup_trained_sql()


_SDA_TAU = 0.44  # same stress threshold as semdedup / semdedup_trained
_SDA_TARGET = 64  # target cluster size; k = ceil(n / target)
_SDA_BANDS = 8
# bits per band are AUTO-SIZED: planes = max(1, ceil(log2(k))) — the
# auto_planes_per_band law (VERDICT r6 #4), enforced in code for both
# the in-loop trainer assignment and the final assignment here, and
# derived identically in-SQL by the oracle.


def q_semdedup_ann(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup with ANN (LSH-bucketed) centroid assignment — the
    100-TB composition end-to-end: distributed-state Lloyd trainer
    (k = ceil(n/64), no driver-held centroids), assignment candidates
    from a shared (band, signature) join instead of the full n×k
    scoring, exact cosine + lowest-centroid-id tie only within
    candidates, unmatched vectors become singleton clusters
    (cluster_id = -vec_id - 1, never dup), then the standard
    within-cluster earlier-id marking at tau.

    Scale shape: signatures are per-row column algebra (literal ±1
    planes, no shuffle); the candidate join shuffles skinny
    (id, band, sig) rows against a broadcast centroid-signature table
    (k rows × bands); scoring touches only candidates; max_by
    combines map-side so n rows cross the assignment shuffle. Every
    stage is linear in n for fixed bucket occupancy — the O(n·k)
    exact-assignment term is gone.

    Tuning law (ENFORCED, not prose): candidates/vector ≈
    k·bands/2^planes, so planes/band = max(1, ceil(log2(k))) —
    ``auto_planes_per_band`` — keeping per-band buckets ≳ the
    centroid count and the per-vector candidate set O(bands) at any
    k. On the synthetic bench corpus (vector-to-own-centroid cosine
    low, median ~0.25 → per-plane agreement ~0.58) this yields
    planes=3 at k=8 with a low singleton rate; a real embedding
    corpus clusters far tighter (cos ≥ 0.7 → agreement ≥ 0.75),
    which keeps the same law workable at large k (8–12 bits/band).
    Bucket occupancy and singleton rate on both corpus shapes are
    pinned by ``test_auto_planes_law_and_candidate_coverage``."""
    from wq_data_pipeline_spark.operators.similarity import (
        auto_planes_per_band,
        banded_signatures,
        cosine,
        kmeans_centroids,
        semdedup_within,
    )

    raw = load_table(spark, sf_dir, "embeddings")
    head = raw.select(F.size("embedding")).head()
    if head is None:  # empty table: contract schema, no dim to probe
        empty = spark.createDataFrame(
            [], "vec_id LONG, q ARRAY<BIGINT>, cluster_id LONG"
        )
        return semdedup_within(empty, id_col="vec_id", vec_col="q", tau=_SDA_TAU)
    dim = head[0]
    # pin the scan + quantization once: count(), both banded() sides,
    # the scoring join, and the final assignment all read `emb` —
    # without the checkpoint each is an independent re-scan. r13: the
    # spread-repartition fires only when the scan is COARSER than the
    # cluster (the single-file small-table case it was written for) —
    # at corpus scale the scan has >= defaultParallelism splits and
    # the unconditional form was a full corpus shuffle for nothing;
    # and the pin is lazy, so the gate count() below is the ONE
    # construction job that materializes it (the ADVICE r12 #1
    # eager+count double-job pattern, fixed here too).
    from wq_data_pipeline_spark.operators.scale import spread_small_scan

    emb = spread_small_scan(
        raw.select("vec_id", _quantized("embedding").alias("q"))
    ).localCheckpoint(eager=False)
    k = max(1, math.ceil(emb.count() / _SDA_TARGET))
    planes = auto_planes_per_band(k)
    # the trainer's rounds are exact (the oracle replays them); the
    # entry's ANN identity is the banded FINAL assignment below.
    # trained state is deterministic in (input content, params) and
    # tiny (k rows) -> one build per session (operators/stash.py)
    from wq_data_pipeline_spark.operators.stash import session_stash

    cent = session_stash(
        spark,
        sf_dir,
        "embeddings",
        ("kmeans", k, _KM_ITERS),
        lambda: kmeans_centroids(emb, k=k, iters=_KM_ITERS, vec_col="q"),
    )
    # banded_signatures signs the half-away-from-zero-ROUNDED vector,
    # so the (double) centroid means sign as integers — every
    # signature bit is portable across engines
    # no distinct() on the candidate pairs (r13): a (vec, cid) pair
    # that matches in several bands reaches the scoring join several
    # times, but max_by is invariant to duplicates — same argmax, and
    # the duplicate factor is bounded by the band count while the
    # distinct cost a full candidate-set shuffle (guide §2.4).
    cand = (
        banded_signatures(emb, "vec_id", "q", _SDA_BANDS, planes, dim)
        .join(
            banded_signatures(cent, "_cid", "q", _SDA_BANDS, planes, dim),
            on=["band", "sig"],
        )
        .select("vec_id", "_cid")
    )
    c = cent.select(F.col("centroid_id").alias("_cid"), F.col("q").alias("_cv"))
    best = (
        cand.join(c, "_cid")
        .join(emb, "vec_id")
        .select("vec_id", "_cid", cosine("q", "_cv").alias("_cs"))
        .groupBy("vec_id")
        .agg(
            F.max_by(F.col("_cid"), F.struct(F.col("_cs"), -F.col("_cid"))).alias(
                "_best_cid"
            )
        )
    )
    assigned = (
        emb.join(best, "vec_id", "left")
        .select(
            "vec_id",
            "q",
            F.coalesce(
                F.col("_best_cid").cast("long"), -F.col("vec_id") - F.lit(1)
            ).alias("cluster_id"),
        )
        .localCheckpoint()  # the within stage reads it twice
    )
    return semdedup_within(
        assigned, id_col="vec_id", vec_col="q", tau=_SDA_TAU, dim=dim
    )


def _semdedup_ann_sql() -> str:
    """DuckDB replay: the shared EXACT dynamic-k Lloyd prefix (final
    centroids CTE ``c{_KM_ITERS}``), then the BANDED final assignment exactly
    as the engine runs it: the auto-planes law evaluated in-SQL
    (planes/band = greatest(1, ceil(log2(k)))), one md5 ±1 plane
    table shared by both sides, vector signatures over the quantized
    corpus, centroid signatures over the ROUNDED means, band-join
    candidates, exact-cosine best-candidate assignment with the
    (cs DESC, cid ASC) tie rule, singleton fallback, then the
    within-cluster earlier-id tail of SQL_SEMDEDUP_TRAINED."""

    last = f"c{_KM_ITERS}"
    pl = "(SELECT pl FROM pp)"
    k_sql = (
        f"SELECT CAST(ceil(count(*) / {_SDA_TARGET}.0) AS BIGINT) FROM embeddings"
    )
    dot = (
        "CAST(list_sum(list_transform(generate_series(1, len(a.q)), "
        "i -> a.q[i] * b.q[i])) AS DOUBLE)"
    )
    nrm = "sqrt(CAST(list_sum(list_transform({v}, x -> x * x)) AS DOUBLE))"
    return f"""{_kmeans_prefix_sql(k_sql)},
kk AS (SELECT ({k_sql}) AS k),
pp AS (SELECT greatest(1, CAST(ceil(log2(k)) AS INT)) AS pl FROM kk),
dims AS (SELECT unnest(generate_series(0, (SELECT max(len(q)) - 1 FROM q))) AS i),
pls AS (SELECT unnest(generate_series(0, (SELECT {_SDA_BANDS} * pl - 1 FROM pp))) AS p),
planes AS (
  SELECT pls.p, dims.i,
         CASE WHEN substr(md5(CAST(pls.p AS VARCHAR) || ':' || CAST(dims.i AS VARCHAR)), 1, 1)
                   IN ('0','2','4','6','8','a','c','e')
              THEN 1 ELSE -1 END AS h
  FROM pls CROSS JOIN dims
),
vdim AS (
  SELECT vec_id, i, q[i + 1] AS xi
  FROM (SELECT vec_id, q, unnest(generate_series(0, len(q) - 1)) AS i FROM q)
),
vdot AS (
  SELECT v.vec_id, pl2.p, sum(v.xi * pl2.h) AS s
  FROM vdim v JOIN planes pl2 ON v.i = pl2.i GROUP BY v.vec_id, pl2.p
),
vsig AS (
  SELECT vec_id, p // {pl} AS band,
         CAST(sum(CASE WHEN s > 0 THEN 1 << (p % {pl}) ELSE 0 END) AS BIGINT) AS sig
  FROM vdot GROUP BY vec_id, p // {pl}
),
cquant AS (
  SELECT cid, list_transform(c, x -> CAST(round(x) AS BIGINT)) AS cqv FROM {last}
),
cdim AS (
  SELECT cid, i, cqv[i + 1] AS xi
  FROM (SELECT cid, cqv, unnest(generate_series(0, len(cqv) - 1)) AS i FROM cquant)
),
cdot AS (
  SELECT c.cid, pl2.p, sum(c.xi * pl2.h) AS s
  FROM cdim c JOIN planes pl2 ON c.i = pl2.i GROUP BY c.cid, pl2.p
),
csig AS (
  SELECT cid, p // {pl} AS band,
         CAST(sum(CASE WHEN s > 0 THEN 1 << (p % {pl}) ELSE 0 END) AS BIGINT) AS sig
  FROM cdot GROUP BY cid, p // {pl}
),
cand AS (
  SELECT DISTINCT v.vec_id, c.cid
  FROM vsig v JOIN csig c ON v.band = c.band AND v.sig = c.sig
),
cscored AS (
  SELECT cand.vec_id, cand.cid,
         {_lr_dots("v.q", "ct.c")} / (sqrt({_lr_sq("v.q")}) * sqrt({_lr_sq("ct.c")})) AS cs
  FROM cand JOIN q v USING (vec_id) JOIN {last} ct USING (cid)
),
bestc AS (
  SELECT vec_id, cid FROM (
    SELECT vec_id, cid,
           row_number() OVER (PARTITION BY vec_id ORDER BY cs DESC, cid ASC) AS rn
    FROM cscored
  ) WHERE rn = 1
),
avv AS (
  SELECT v.vec_id, v.q,
         CAST(coalesce(b.cid, -v.vec_id - 1) AS BIGINT) AS bucket
  FROM q v LEFT JOIN bestc b USING (vec_id)
),
simsx AS (
  SELECT a.vec_id,
         {dot} / ({nrm.format(v="a.q")} * {nrm.format(v="b.q")}) AS sim
  FROM avv a JOIN avv b
    ON a.bucket = b.bucket AND b.vec_id < a.vec_id
),
dupx AS (
  SELECT vec_id, count(*) AS n_dup_earlier, round(max(sim), 6) AS max_sim_earlier
  FROM simsx WHERE sim >= {_SDA_TAU} GROUP BY vec_id
)
SELECT avv.vec_id, avv.bucket AS cluster_id,
       d.vec_id IS NOT NULL AS is_dup,
       CAST(coalesce(d.n_dup_earlier, 0) AS BIGINT) AS n_dup_earlier,
       d.max_sim_earlier
FROM avv LEFT JOIN dupx d USING (vec_id)"""


SQL_SEMDEDUP_ANN = _semdedup_ann_sql()


def q_embed_dup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding near-dup CLUSTERING end-to-end: banded-LSH candidate
    pairs at cosine >= 0.45 (the embed_near_dup plan) -> connected
    components (operators/dedup.py) -> cluster assignment per vector
    + cluster size. The embedding-space twin of ``dedup_clusters``
    (MinHash pairs over documents): together they cover both
    modalities of the pairs->components dedup composition. The size
    is a window count over the cluster, so the component frame is
    read once (a size agg joined back reads it twice). The oracle
    replays the identical md5-hyperplane pair generation and closes
    components with a recursive CTE."""
    from wq_data_pipeline_spark.operators.dedup import connected_components

    pairs = q_embed_near_dup(spark, sf_dir).select("id_a", "id_b")
    nodes = load_table(spark, sf_dir, "embeddings").select("vec_id")
    comps = connected_components(nodes, pairs, "vec_id", "id_a", "id_b")
    return comps.select(
        "vec_id",
        "cluster_id",
        F.count(F.lit(1)).over(Window.partitionBy("cluster_id")).alias("cluster_size"),
        (F.col("vec_id") == F.col("cluster_id")).alias("is_canonical"),
    )


def _embed_dup_clusters_sql() -> str:

    return f"""{_EMBED_NEAR_DUP_CTE},
edges AS (
  SELECT id_a AS a, id_b AS b FROM dup_pairs
  UNION SELECT id_b, id_a FROM dup_pairs
),
reach AS (
  WITH RECURSIVE r(node, root) AS (
    SELECT vec_id, vec_id FROM embeddings
    UNION
    SELECT e.b, r.root FROM r JOIN edges e ON e.a = r.node
  )
  SELECT node, min(root) AS cluster_id FROM r GROUP BY node
),
sized AS (
  SELECT cluster_id, count(*) AS cluster_size FROM reach GROUP BY cluster_id
)
SELECT node AS vec_id, reach.cluster_id, cluster_size,
       node = reach.cluster_id AS is_canonical
FROM reach JOIN sized USING (cluster_id)"""


SQL_EMBED_DUP_CLUSTERS = _embed_dup_clusters_sql()


def _micro(x: Column) -> Column:
    """Element in integer micros via an exact float->double cast."""
    return F.round(x.cast("double") * 1000000).cast("long")


def _lsum(arr: Column) -> Column:
    """Exact BIGINT fold over an array<long>."""
    return F.aggregate(arr, F.lit(0).cast("long"), lambda a, x: a + x)


def q_embed_feature_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-vector embedding profile in exact integer micros: L1 mass,
    max element + its (1-indexed) dimension, positive-element count,
    and the sum of squared micros (the L2 norm's exact square).

    Cited shape: the per-column profile the reference's QC stage
    computes for scalar series, lifted to the vector column."""
    emb = load_table(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    m = F.transform(F.col("embedding"), _micro)
    d = emb.select(
        "vec_id",
        F.size("embedding").alias("dim"),
        _lsum(F.transform(m, lambda x: F.abs(x))).alias("l1_micro"),
        F.array_max(m).alias("max_micro"),
        F.array_position(m, F.array_max(m)).alias("argmax_dim"),
        _lsum(
            F.transform(F.col("embedding"), lambda x: (x > 0).cast("long"))
        ).alias("n_pos"),
        _lsum(F.transform(m, lambda x: x * x)).alias("ss_micro2"),
    )
    return d.orderBy("vec_id")


SQL_EMBED_FEATURE_STATS = """
WITH m AS (
  SELECT vec_id,
         embedding,
         list_transform(embedding,
           x -> CAST(round(CAST(x AS DOUBLE) * 1000000) AS BIGINT)) AS mi
  FROM embeddings
)
SELECT vec_id,
       len(embedding) AS dim,
       CAST(list_sum(list_transform(mi, x -> abs(x))) AS BIGINT) AS l1_micro,
       CAST(list_max(mi) AS BIGINT) AS max_micro,
       CAST(list_position(mi, list_max(mi)) AS BIGINT) AS argmax_dim,
       CAST(list_sum(list_transform(embedding,
              x -> CAST(x > 0 AS BIGINT))) AS BIGINT) AS n_pos,
       CAST(list_sum(list_transform(mi, x -> x * x)) AS BIGINT) AS ss_micro2
FROM m
ORDER BY vec_id"""


def q_embed_int8_quant(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Symmetric int8 quantization of each embedding: scale =
    max|x_i| (per vector), q_i = round(127 * x_i / scale) in
    [-127, 127]. The entry reports the per-vector code aggregates
    (sum, min, max, zero count) plus the scale in exact micros, so
    the quantization itself — not just its existence — is oracled.

    Zero-vectors quantize to all-zero codes (scale NULL)."""
    emb = load_table(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    dbl = F.transform(F.col("embedding"), lambda x: x.cast("double"))
    scale = F.array_max(F.transform(dbl, lambda x: F.abs(x)))
    d = emb.select("vec_id", dbl.alias("v"), scale.alias("s"))
    q = F.when(
        F.col("s") > 0,
        F.transform(
            F.col("v"), lambda x: F.round(x * 127 / F.col("s")).cast("long")
        ),
    ).otherwise(F.transform(F.col("v"), lambda x: F.lit(0).cast("long")))
    d = d.select(
        "vec_id",
        F.round(F.col("s") * 1000000).cast("long").alias("scale_micro"),
        q.alias("q"),
    )
    return d.select(
        "vec_id",
        "scale_micro",
        _lsum(F.col("q")).alias("q_sum"),
        F.array_min("q").alias("q_min"),
        F.array_max("q").alias("q_max"),
        _lsum(
            F.transform(F.col("q"), lambda x: (x == 0).cast("long"))
        ).alias("n_zero"),
    ).orderBy("vec_id")


SQL_EMBED_INT8_QUANT = """
WITH d AS (
  SELECT vec_id,
         list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v,
         list_max(list_transform(embedding,
           x -> abs(CAST(x AS DOUBLE)))) AS s
  FROM embeddings
),
qd AS (
  SELECT vec_id,
         CAST(round(s * 1000000) AS BIGINT) AS scale_micro,
         CASE WHEN s > 0
              THEN list_transform(v, x -> CAST(round(x * 127 / s) AS BIGINT))
              ELSE list_transform(v, x -> CAST(0 AS BIGINT)) END AS q
  FROM d
)
SELECT vec_id, scale_micro,
       CAST(list_sum(q) AS BIGINT) AS q_sum,
       CAST(list_min(q) AS BIGINT) AS q_min,
       CAST(list_max(q) AS BIGINT) AS q_max,
       CAST(list_sum(list_transform(q,
              x -> CAST(x = 0 AS BIGINT))) AS BIGINT) AS n_zero
FROM qd
ORDER BY vec_id"""


# --- mrl_recall ---------------------------------------------------------------

_MRL_DIMS = (8, 16, 32, 64)  # prefix dims; 64 = full (recall 1 by identity)
_MRL_K = 5


def q_mrl_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Matryoshka-style truncation eval: retrieval recall@5 of
    PREFIX-dimension cosine (d = 8/16/32) against the full-dimension
    (64) ground truth, per truncation width — the standard quality
    curve behind dimension-truncated serving indexes (MRL, Kusupati et
    al. 2022: nested prefixes trade dims for recall; vector DBs ship
    exactly this knob). The full-dim row rides along as the identity
    check (recall exactly 1).

    Exactness: quantized-integer per-dim products (the family's
    round(x·1e7) BIGINT convention) make every prefix dot/norm an
    exact BIGINT fold, so cosine ties are bit-identical cross-engine
    and the (cos DESC, neighbor_id ASC) ranking is deterministic;
    recall is a single division of exact counts, rounded 6dp in both
    dialects.

    Scale shape: the per-dim product array is computed ONCE per
    (neighbor, query) pair; each prefix is a slice-fold of that array
    (no re-dot). One Generate (4 rows/pair), one (query, d) window,
    and ground-truth membership is a second window over the tiny
    top-k table — never a rank⋈rank join (the join form re-executed
    the corpus-scoring chain per consumer: E 11→6, G 3→1). Corpus
    scan is spread before the broadcast fan-out (single-file-scan
    rule). Like ``embed_cosine_topk`` (and by design): the EXACT
    ground truth costs O(corpus × queries) — the accepted envelope
    for an eval entry (replica exponent 0.46); production retrieval
    at scale uses the IVF/LSH/PQ entries, and this eval subsamples
    queries (here the %100 residue does exactly that).

    Reference scope: the reference engine has no embedding surface;
    extends the similarity family per the round brief."""
    emb = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", _quantized("embedding").alias("q")
    )
    qs = emb.filter(F.col("vec_id") % 100 == 0).select(
        F.col("vec_id").alias("query_id"), F.col("q").alias("qq")
    )
    from wq_data_pipeline_spark.operators.scale import spread_small_scan

    j = (
        spread_small_scan(emb)
        .crossJoin(F.broadcast(qs))
        .filter(F.col("vec_id") != F.col("query_id"))
    )
    prod = F.zip_with("q", "qq", lambda a, b: a * b)

    def _fold(arr) -> F.Column:
        return F.aggregate(arr, F.lit(0).cast("long"), lambda s, x: s + x)

    def _cos_at(d: int) -> F.Column:
        dot = _fold(F.slice(prod, 1, d))
        n1 = _fold(F.slice(F.transform("q", lambda a: a * a), 1, d))
        n2 = _fold(F.slice(F.transform("qq", lambda a: a * a), 1, d))
        return dot.cast("double") / (
            F.sqrt(n1.cast("double")) * F.sqrt(n2.cast("double"))
        )

    scored = j.select(
        "query_id",
        F.col("vec_id").alias("neighbor_id"),
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(d).alias("trunc_dim"), _cos_at(d).alias("cos_sim")
                    )
                    for d in _MRL_DIMS
                ]
            )
        ).alias("s"),
    ).select("query_id", "neighbor_id", "s.trunc_dim", "s.cos_sim")
    w = Window.partitionBy("query_id", "trunc_dim").orderBy(
        F.desc("cos_sim"), F.asc("neighbor_id")
    )
    ranked = scored.withColumn("rk", F.row_number().over(w)).filter(
        F.col("rk") <= _MRL_K
    )
    # ground-truth membership as a WINDOW over the tiny top-k table,
    # not a rank⋈rank join: a join would make `ranked` a multi-consumer
    # subtree and re-execute the whole corpus-scoring chain per branch
    w_pair = Window.partitionBy("query_id", "neighbor_id")
    in_full = F.max(
        (F.col("trunc_dim") == max(_MRL_DIMS)).cast("int")
    ).over(w_pair)
    return (
        ranked.withColumn("in_full", in_full)
        .groupBy("trunc_dim")
        .agg(
            F.countDistinct("query_id").alias("n_queries"),
            F.count(F.lit(1)).alias("n_ranked"),
            F.sum("in_full").cast("long").alias("sum_hits"),
        )
        .select(
            "trunc_dim",
            "n_queries",
            "n_ranked",
            "sum_hits",
            F.round(
                F.col("sum_hits").cast("double") / F.col("n_ranked").cast("double"),
                6,
            ).alias("recall_at_5"),
        )
        .orderBy("trunc_dim")
    )


def _mrl_cos_sql(d: int) -> str:
    return (
        f"CAST(list_sum(list_transform(generate_series(1, {d}), i -> a.q[i] * b.q[i])) AS DOUBLE)"
        f" / (sqrt(CAST(list_sum(list_transform(generate_series(1, {d}), i -> a.q[i] * a.q[i])) AS DOUBLE))"
        f" * sqrt(CAST(list_sum(list_transform(generate_series(1, {d}), i -> b.q[i] * b.q[i])) AS DOUBLE)))"
    )


SQL_MRL_RECALL = f"""
WITH q AS (
  SELECT vec_id,
         list_transform(embedding, x -> CAST(round(CAST(x AS DOUBLE) * {_Q}) AS BIGINT)) AS q
  FROM embeddings
),
scored AS (
  {" UNION ALL ".join(
    f'''SELECT b.vec_id AS query_id, a.vec_id AS neighbor_id,
         {d} AS trunc_dim, {_mrl_cos_sql(d)} AS cos_sim
  FROM q a JOIN q b ON b.vec_id % 100 = 0 AND a.vec_id <> b.vec_id'''
    for d in _MRL_DIMS
  )}
),
ranked AS (
  SELECT * FROM (
    SELECT query_id, neighbor_id, trunc_dim,
           row_number() OVER (PARTITION BY query_id, trunc_dim
                              ORDER BY cos_sim DESC, neighbor_id ASC) AS rk
    FROM scored
  ) WHERE rk <= {_MRL_K}
),
flagged AS (
  SELECT *, max(CASE WHEN trunc_dim = {max(_MRL_DIMS)} THEN 1 ELSE 0 END)
              OVER (PARTITION BY query_id, neighbor_id) AS in_full
  FROM ranked
)
SELECT trunc_dim,
       CAST(count(DISTINCT query_id) AS BIGINT) AS n_queries,
       CAST(count(*) AS BIGINT) AS n_ranked,
       CAST(sum(in_full) AS BIGINT) AS sum_hits,
       round(CAST(sum(in_full) AS DOUBLE) / CAST(count(*) AS DOUBLE), 6)
         AS recall_at_5
FROM flagged GROUP BY trunc_dim ORDER BY trunc_dim"""


# --- embed_decontaminate ----------------------------------------------------

# 8 bands × 4 planes: P(candidate) = 1-(1-p^4)^8 with p = 1 - θ/π —
# ~0.75 at cos 0.4 (the stress tau) and -> 1 for true contamination
# (cos -> 1). 4-plane bands keep buckets dense enough that recall
# holds; the benchmark side is broadcast so candidate volume is
# O(corpus × bench × bands / 2^planes), never quadratic in the corpus.
_DC_BANDS = 8
_DC_PLANES = 4
_DC_TAU = 0.4
_DC_BENCH_MOD = 10  # vec_id % 10 == 7 plays the benchmark suite
_DC_BENCH_RES = 7


def q_embed_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-space decontamination report: for every corpus
    source, how many docs are semantically contaminated — cosine >=
    tau against ANY benchmark embedding (the held-out slice
    ``vec_id % 10 == 7`` stands in for an eval suite; swap the
    predicate for a real benchmark table, the plan is identical).
    Completes the leakage triad: ``decontaminate`` (n-gram vs
    external), ``leak_free_split`` (self-leakage), and this
    (semantic vs external).

    Per source: corpus doc count, contaminated docs (>=1 hit), total
    hits, and the max cosine (6dp). Embeddings link to documents by
    vec_id = doc_id (the fixture contract, asserted by
    ``test_fixture_vec_doc_alignment``).

    Oracle-exact: candidates come from the SAME md5-derived ±1
    hyperplanes the oracle replays (the embed_near_dup portability
    rule), and cosines are quantized-integer BIGINT dots — candidate
    sets and scores match bit-for-bit.

    100-TB shape: benchmark band signatures AND vectors broadcast
    (eval suites are tiny); the corpus chain through the threshold
    filter is NARROW (signatures + inline scoring on the scan side of
    a broadcast join) — raw corpus vectors never shuffle, the corpus
    never self-joins, and only surviving pairs reach the dedup/agg.
    Validity bound: the broadcast carries bench_rows × bands ×
    (dim × 8B) — ~400 MB at a 100k-item suite, the practical ceiling.
    Past that, drop the F.broadcast hint and this SAME plan becomes a
    skinny equi-join on (band, sig) (the embed_near_dup sparse shape);
    the candidate semantics are unchanged."""
    raw = load_table(spark, sf_dir, "embeddings")
    # One bounded action probes the width AND pins it uniform: the
    # baked-plane zip_with pads ragged short vectors with NULLs
    # (signature bit silently 0) while the oracle sums only available
    # dims — a silent candidate-set divergence, so refuse ragged input
    # outright instead of guessing from the first row (ADVICE r10 #2).
    dims = raw.agg(
        F.min(F.size("embedding")).alias("lo"),
        F.max(F.size("embedding")).alias("hi"),
        F.sum(F.col("embedding").isNull().cast("long")).alias("n_null"),
    ).first()
    # NULL vectors are refused too, not just ragged ones: F.size(NULL)
    # is NULL and would slip past a min/max-only check, then propagate
    # NULL through zip_with with semantics DuckDB's list functions
    # don't mirror (r11 review; the NULL-media ValueError precedent)
    if (dims["n_null"] or 0) > 0:
        raise ValueError(
            f"embed_decontaminate: {dims['n_null']} NULL embedding(s); "
            "clean or drop them upstream"
        )
    if dims["lo"] is None:  # empty table: contract schema, no dim to probe
        return spark.createDataFrame(
            [],
            "source STRING, n_docs LONG, n_contaminated LONG, "
            "n_hits LONG, max_cos DOUBLE",
        )
    if dims["lo"] != dims["hi"]:
        raise ValueError(
            "embed_decontaminate requires uniform embedding width; got "
            f"sizes in [{dims['lo']}, {dims['hi']}]"
        )
    dim = dims["hi"]
    q = raw.select("vec_id", _quantized("embedding").alias("q")).repartition(
        spark.sparkContext.defaultParallelism
    )
    is_bench = (F.col("vec_id") % _DC_BENCH_MOD) == _DC_BENCH_RES
    corp = q.filter(~is_bench)
    ben = q.filter(is_bench)

    # At tau 0.4 (barely above the background cosine) 4-plane bands
    # collide densely — the embed_near_dup dense-threshold lesson:
    # carry the vectors + hoisted norms THROUGH the broadcast band
    # join and score inline, so the whole chain through the threshold
    # filter is NARROW (no pre-score candidate shuffle, no vector
    # join-back); only the surviving pairs (~tens) pay dropDuplicates
    # and the per-doc agg. The benchmark side broadcasts sig+vector+
    # norm together — eval suites are tiny.
    zero = F.lit(0).cast("long")
    nrm = F.aggregate(F.transform("q", lambda x: x * x), zero, lambda s, x: s + x)
    band_sigs = band_sig_array("`q`", _DC_BANDS, _DC_PLANES, dim)
    d_c = (
        corp.withColumn("nc", nrm)
        .select(
            F.col("vec_id").alias("cid"),
            F.col("q").alias("qc"),
            "nc",
            F.explode(band_sigs).alias("bs"),
        )
        .select(
            "cid", "qc", "nc",
            F.col("bs.band").alias("band"), F.col("bs.sig").alias("sig"),
        )
    )
    d_b = (
        ben.withColumn("nb", nrm)
        .select(
            F.col("vec_id").alias("bid"),
            F.col("q").alias("qb"),
            "nb",
            F.explode(band_sigs).alias("bs"),
        )
        .select(
            "bid", "qb", "nb",
            F.col("bs.band").alias("band"), F.col("bs.sig").alias("sig"),
        )
    )
    dotq = F.aggregate(
        F.zip_with("qc", "qb", lambda x, y: x * y), zero, lambda s, x: s + x
    )
    cos = dotq.cast("double") / (
        F.sqrt(F.col("nc").cast("double")) * F.sqrt(F.col("nb").cast("double"))
    )
    hits = (
        d_c.join(F.broadcast(d_b), ["band", "sig"])
        .select("cid", "bid", cos.alias("cos_sim"))
        .filter(F.col("cos_sim") >= _DC_TAU)
        .dropDuplicates(["cid", "bid"])
        .groupBy("cid")
        .agg(
            F.count(F.lit(1)).alias("n_hits"),
            F.max("cos_sim").alias("max_cos"),
        )
    )
    docs = load_table(spark, sf_dir, "documents").select(
        F.col("doc_id").alias("cid"), "source"
    )
    tot = corp.select(F.col("vec_id").alias("cid")).join(docs, "cid")
    return (
        tot.join(hits, "cid", "left")
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.count("n_hits").alias("n_contaminated"),
            F.coalesce(F.sum("n_hits"), F.lit(0)).cast("long").alias("n_hits"),
            F.round(F.max("max_cos"), 6).alias("max_cos"),
        )
        .orderBy("source")
    )


# Oracle: replay the md5 hyperplanes (parity of the first hex digit of
# md5('<plane>:<dim>') -> ±1, exactly similarity.hyperplane_components),
# band p//PLANES, bit 1 << (p % PLANES); integer plane dots
# make every signature bit — hence the candidate set — bit-identical,
# and cosines are the established quantized-BIGINT form.
SQL_EMBED_DECONTAMINATE = f"""
WITH q AS (
  SELECT vec_id, list_transform(embedding, x -> CAST(round(CAST(x AS DOUBLE) * {_Q}) AS BIGINT)) AS q
  FROM embeddings
),
dim AS (SELECT unnest(generate_series(0, (SELECT max(len(q)) - 1 FROM q))) AS i),
pl AS (SELECT unnest(generate_series(0, {_DC_BANDS * _DC_PLANES - 1})) AS p),
planes AS (
  SELECT pl.p, dim.i,
         CASE WHEN substr(md5(CAST(pl.p AS VARCHAR) || ':' || CAST(dim.i AS VARCHAR)), 1, 1)
                   IN ('0','2','4','6','8','a','c','e')
              THEN 1 ELSE -1 END AS h
  FROM pl CROSS JOIN dim
),
dimv AS (
  SELECT vec_id, i, q[i + 1] AS qi
  FROM (SELECT vec_id, q, unnest(generate_series(0, len(q) - 1)) AS i FROM q)
),
pdot AS (
  SELECT v.vec_id, pl2.p, sum(v.qi * pl2.h) AS s
  FROM dimv v JOIN planes pl2 ON v.i = pl2.i
  GROUP BY v.vec_id, pl2.p
),
sigs AS (
  SELECT vec_id, p // {_DC_PLANES} AS band,
         CAST(sum(CASE WHEN s > 0 THEN 1 << (p % {_DC_PLANES}) ELSE 0 END) AS BIGINT) AS sig
  FROM pdot GROUP BY vec_id, p // {_DC_PLANES}
),
cand AS (
  SELECT DISTINCT c.vec_id AS cid, b.vec_id AS bid
  FROM sigs c JOIN sigs b ON c.band = b.band AND c.sig = b.sig
  WHERE c.vec_id % {_DC_BENCH_MOD} <> {_DC_BENCH_RES}
    AND b.vec_id % {_DC_BENCH_MOD} = {_DC_BENCH_RES}
),
scored AS (
  SELECT c.cid,
         CAST(list_sum(list_transform(generate_series(1, len(a.q)), i -> a.q[i] * b.q[i])) AS DOUBLE)
         / (sqrt(CAST(list_sum(list_transform(a.q, x -> x * x)) AS DOUBLE))
            * sqrt(CAST(list_sum(list_transform(b.q, x -> x * x)) AS DOUBLE))) AS cos_sim
  FROM cand c JOIN q a ON a.vec_id = c.cid JOIN q b ON b.vec_id = c.bid
),
hits AS (
  SELECT cid, CAST(count(*) AS BIGINT) AS n_hits, max(cos_sim) AS max_cos
  FROM scored WHERE cos_sim >= {_DC_TAU} GROUP BY cid
),
tot AS (
  SELECT d.source, cq.vec_id AS cid
  FROM (SELECT vec_id FROM q WHERE vec_id % {_DC_BENCH_MOD} <> {_DC_BENCH_RES}) cq
  JOIN documents d ON d.doc_id = cq.vec_id
)
SELECT tot.source,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(count(h.n_hits) AS BIGINT) AS n_contaminated,
       CAST(coalesce(sum(h.n_hits), 0) AS BIGINT) AS n_hits,
       round(max(h.max_cos), 6) AS max_cos
FROM tot LEFT JOIN hits h USING (cid)
GROUP BY tot.source ORDER BY tot.source"""


# --- hybrid_rrf -------------------------------------------------------------

_RRF_K = 60  # the standard RRF smoothing constant (SIGIR 2009)
_RRF_TOPN = 20  # fused list length (= both input list lengths)


def _rrf_micro(rank: "F.Column") -> "F.Column":
    """Integer-micro RRF contribution: round(1e6/(k+rank)) as BIGINT,
    0 when the doc is absent from that list — the fused score is an
    exact BIGINT sum, so no float accumulation order can flip a rank."""
    return F.when(
        rank.isNotNull(),
        F.round(F.lit(1_000_000.0) / (F.lit(_RRF_K) + rank)).cast("long"),
    ).otherwise(F.lit(0).cast("long"))


def q_hybrid_rrf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hybrid lexical+vector retrieval with reciprocal-rank fusion:
    BM25 top-20 for the fixed 3-term query, vector top-20 by cosine
    against the BM25 rank-1 doc's embedding (the anchor itself is
    excluded from the vector list — it anchors, it doesn't compete
    there; it still carries its BM25 contribution), fused by
    rrf_micro = round(1e6/(60+rank)) summed over the lists a doc
    appears in. Output: top-20 fused (doc_id, bm25_rank, vec_rank,
    rrf_micro, fused_rank); absent-list ranks are NULL.

    100-TB shape: one corpus text scan (BM25, checkpointed at <= 20
    rows) and TWO embeddings scans — one to extract the anchor's
    vector (a join, so vec_id can't push down as a literal; at a real
    deployment a point-lookup index or a pre-materialized anchor row
    would drop it) and one broadcast-score pass feeding a
    TakeOrderedAndProject top-20. Everything is linear; the rank
    windows and the full-outer fusion join touch only the <= 20-row
    survivors. Ragged or NULL embeddings are refused up front (the
    embed_decontaminate guard): Spark's zip_with pads/propagates
    NULLs where DuckDB's list_sum skips them — a silent ranking
    divergence, so the entry fails loudly instead."""
    docs = load_table(spark, sf_dir, "documents")
    # TWO consumers (the rank list and the anchor derivation) would
    # otherwise replay the whole BM25 subtree — two corpus scans + two
    # shuffle chains at 100 TB. The result is <= topn rows, so pin it
    # once (the bigram_lm_score localCheckpoint convention; bounded
    # construction cost: one distributed top-20)
    bm = bm25_search(
        docs, _BM25_TERMS, topn=_BM25_TOPN, k1=_BM25_K1, b=_BM25_B
    ).localCheckpoint()
    anchor = bm.filter(F.col("rank") == 1).select(
        F.col("doc_id").alias("anchor_id")
    )
    raw = load_table(spark, sf_dir, "embeddings")
    dims = raw.agg(
        F.min(F.size("embedding")).alias("lo"),
        F.max(F.size("embedding")).alias("hi"),
        F.sum(F.col("embedding").isNull().cast("long")).alias("n_null"),
    ).first()
    if (dims["n_null"] or 0) > 0:
        raise ValueError(
            f"hybrid_rrf: {dims['n_null']} NULL embedding(s); "
            "clean or drop them upstream"
        )
    if dims["lo"] is not None and dims["lo"] != dims["hi"]:
        raise ValueError(
            "hybrid_rrf requires uniform embedding width; got sizes "
            f"in [{dims['lo']}, {dims['hi']}]"
        )
    emb = raw.select("vec_id", _quantized("embedding").alias("q"))
    qvec = emb.join(
        F.broadcast(anchor), emb["vec_id"] == anchor["anchor_id"]
    ).select("anchor_id", F.col("q").alias("qq"))
    scored = (
        emb.crossJoin(F.broadcast(qvec))
        .filter(F.col("vec_id") != F.col("anchor_id"))
        .select("vec_id", quantized_cosine("q", "qq").alias("cos_sim"))
    )
    # global sort + limit plans as TakeOrderedAndProject (the
    # bm25_search precedent); the rank window then runs over only the
    # topn surviving rows
    vtop = scored.orderBy(F.desc("cos_sim"), F.asc("vec_id")).limit(_RRF_TOPN)
    wv = Window.orderBy(F.desc("cos_sim"), F.asc("vec_id"))
    vr = vtop.withColumn("vec_rank", F.row_number().over(wv)).select(
        F.col("vec_id").alias("doc_id"), "vec_rank"
    )
    br = bm.select("doc_id", F.col("rank").alias("bm25_rank"))
    fused = br.join(vr, "doc_id", "full_outer").select(
        "doc_id",
        "bm25_rank",
        "vec_rank",
        (_rrf_micro(F.col("bm25_rank")) + _rrf_micro(F.col("vec_rank"))).alias(
            "rrf_micro"
        ),
    )
    wf = Window.orderBy(F.desc("rrf_micro"), F.asc("doc_id"))
    return fused.withColumn("fused_rank", F.row_number().over(wf)).filter(
        F.col("fused_rank") <= _RRF_TOPN
    )


SQL_HYBRID_RRF = f"""{SQL_BM25_CTES},
anchor AS (SELECT doc_id AS anchor_id FROM bm25 WHERE rank = 1),
eq AS (
  SELECT vec_id, list_transform(embedding, x -> CAST(round(CAST(x AS DOUBLE) * {_Q}) AS BIGINT)) AS q
  FROM embeddings
),
qv AS (SELECT e.q AS qq, a.anchor_id FROM eq e JOIN anchor a ON e.vec_id = a.anchor_id),
vs AS (
  SELECT e.vec_id,
         CAST(list_sum(list_transform(generate_series(1, len(e.q)), i -> e.q[i] * qv.qq[i])) AS DOUBLE)
         / (sqrt(CAST(list_sum(list_transform(e.q, x -> x * x)) AS DOUBLE))
            * sqrt(CAST(list_sum(list_transform(qv.qq, x -> x * x)) AS DOUBLE))) AS cos_sim
  FROM eq e CROSS JOIN qv
  WHERE e.vec_id <> qv.anchor_id
),
vr AS (
  SELECT vec_id AS doc_id, rank AS vec_rank FROM (
    SELECT vec_id, row_number() OVER (ORDER BY cos_sim DESC, vec_id ASC) AS rank FROM vs
  ) WHERE rank <= {_RRF_TOPN}
),
br AS (SELECT doc_id, rank AS bm25_rank FROM bm25),
fused AS (
  SELECT COALESCE(br.doc_id, vr.doc_id) AS doc_id, br.bm25_rank, vr.vec_rank,
         COALESCE(CAST(round(1000000.0 / ({_RRF_K} + br.bm25_rank)) AS BIGINT), 0)
         + COALESCE(CAST(round(1000000.0 / ({_RRF_K} + vr.vec_rank)) AS BIGINT), 0) AS rrf_micro
  FROM br FULL OUTER JOIN vr ON br.doc_id = vr.doc_id
)
SELECT doc_id, bm25_rank, vec_rank, rrf_micro, fused_rank FROM (
  SELECT *, row_number() OVER (ORDER BY rrf_micro DESC, doc_id ASC) AS fused_rank
  FROM fused
) WHERE fused_rank <= {_RRF_TOPN}"""


# --- cluster_balanced_sample ------------------------------------------------

_CBS_K = 8  # fixed centroid count (production: k scales with corpus)
_CBS_QUOTA = 40  # per-cluster keep quota


def q_cluster_balanced_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Diversity subsample over the embedding space: every vector is
    assigned to its nearest of {_CBS_K} fixed md5-derived ±1
    centroids (cosine argmax == integer-dot argmax — equal-norm
    centroids), then each cluster keeps its first {_CBS_QUOTA}
    vectors under a deterministic pseudo-random order (md5 hash of
    vec_id, ties by vec_id). Output per cluster: population, kept
    count, and the exact BIGINT sum of kept vec_ids (the membership
    checksum that makes the quota selection oracle-checkable).

    This is the diversify step of a curation stack (SemDeDup/DCLM):
    near-dup REMOVAL entries prune redundancy; this caps how much any
    single mode of the distribution can contribute. Swap the fixed
    centroids for ``similarity.kmeans_centroids`` output and the
    plan is unchanged (the quality_classifier fixed-weights
    convention: fixed parameters keep the ENTRY oracle-replayable;
    the trained path exists in the same package).

    Exactness: quantized BIGINT vectors dotted with ±1 centroids are
    exact add/subtract sums; argmax ties break to the smaller
    centroid id; the quota rank is integer (hash, vec_id). Ragged or
    NULL embeddings are refused up front (the embed_decontaminate
    guard).

    100-TB shape: centroids ride as baked literal arrays (zero
    broadcast, zero md5 work on executors); assignment is a narrow
    scan-side max_by agg — never a window over the n×k expansion
    (the semdedup_trained shape lesson); the quota is ONE window per
    cluster. At fixed k the per-cluster sort grows n/k — production
    scales k with the corpus or swaps in a per-key partial top-Q
    agg; everything else is shape-identical."""
    raw = load_table(spark, sf_dir, "embeddings")
    dims = raw.agg(
        F.min(F.size("embedding")).alias("lo"),
        F.max(F.size("embedding")).alias("hi"),
        F.sum(F.col("embedding").isNull().cast("long")).alias("n_null"),
    ).first()
    if (dims["n_null"] or 0) > 0:
        raise ValueError(
            f"cluster_balanced_sample: {dims['n_null']} NULL embedding(s); "
            "clean or drop them upstream"
        )
    if dims["lo"] is None:  # empty table: contract schema
        return spark.createDataFrame(
            [], "cluster INT, n_total LONG, n_kept LONG, kept_id_sum LONG"
        )
    if dims["lo"] != dims["hi"]:
        raise ValueError(
            "cluster_balanced_sample requires uniform embedding width; "
            f"got sizes in [{dims['lo']}, {dims['hi']}]"
        )
    dim = dims["hi"]
    q = raw.select("vec_id", _quantized("embedding").alias("q"))
    zero = F.lit(0).cast("long")
    best = None
    for k in range(_CBS_K):
        plane = F.array(
            *[F.lit(int(c)) for c in hyperplane_components(k, dim)]
        )
        dot = F.aggregate(
            F.zip_with("q", plane, lambda x, h: x * h), zero, lambda s, x: s + x
        )
        cand = F.struct(dot.alias("d"), F.lit(-k).alias("nk"))
        best = cand if best is None else F.greatest(best, cand)
    assigned = q.select(
        "vec_id",
        (-best["nk"]).cast("int").alias("cluster"),
        gram_hash(F.col("vec_id").cast("string")).alias("rh"),
    )
    w = Window.partitionBy("cluster").orderBy("rh", "vec_id")
    ranked = assigned.withColumn("rk", F.row_number().over(w))
    return (
        ranked.groupBy("cluster")
        .agg(
            F.count(F.lit(1)).alias("n_total"),
            F.sum((F.col("rk") <= _CBS_QUOTA).cast("long")).alias("n_kept"),
            F.coalesce(
                F.sum(
                    F.when(F.col("rk") <= _CBS_QUOTA, F.col("vec_id")).otherwise(
                        F.lit(0).cast("long")
                    )
                ),
                F.lit(0).cast("long"),
            ).alias("kept_id_sum"),
        )
        .orderBy("cluster")
    )


def _sql_cbs(dim: int = 64) -> str:
    """Oracle for the fixture's embedding width (64; asserted by the
    entry's uniform-width guard — a different-width fixture would
    need the dim re-probed, which the compare harness does not do, so
    the oracle bakes the testdata contract)."""
    # replay the ±1 centroids: parity of the first hex digit of
    # md5('<k>:<i>') — identical to similarity.hyperplane_components
    comp = (
        "CASE WHEN substr(md5(CAST({k} AS VARCHAR) || ':' || CAST(i - 1 AS VARCHAR)), 1, 1) "
        "IN ('0','2','4','6','8','a','c','e') THEN 1 ELSE -1 END"
    )
    dots = ",\n         ".join(
        f"list_sum(list_transform(generate_series(1, {dim}), "
        f"i -> q[i] * ({comp.format(k=k)}))) AS d{k}"
        for k in range(_CBS_K)
    )
    # argmax with ties to the SMALLER centroid id: k beats every
    # earlier centroid strictly and every later one at-least-equally
    best = "CASE "
    for k in range(_CBS_K):
        others = " AND ".join(
            f"d{k} {'>' if j < k else '>='} d{j}"
            for j in range(_CBS_K)
            if j != k
        )
        best += f"WHEN {others or 'TRUE'} THEN {k} "
    best += "END"
    return f"""
WITH q AS (
  SELECT vec_id,
         list_transform(embedding, x -> CAST(round(CAST(x AS DOUBLE) * 10000000.0) AS BIGINT)) AS q
  FROM embeddings
),
d AS (
  SELECT vec_id,
         {dots}
  FROM q
),
a AS (
  SELECT vec_id, {best} AS cluster,
         ('0x' || substr(md5(CAST(vec_id AS VARCHAR)), 1, 15))::BIGINT AS rh
  FROM d
),
rk AS (
  SELECT vec_id, cluster,
         row_number() OVER (PARTITION BY cluster ORDER BY rh, vec_id) AS rk
  FROM a
)
SELECT CAST(cluster AS INT) AS cluster,
       CAST(count(*) AS BIGINT) AS n_total,
       CAST(sum(CASE WHEN rk <= {_CBS_QUOTA} THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
       CAST(coalesce(sum(CASE WHEN rk <= {_CBS_QUOTA} THEN vec_id ELSE 0 END), 0) AS BIGINT) AS kept_id_sum
FROM rk GROUP BY cluster ORDER BY cluster"""


SQL_CLUSTER_BALANCED_SAMPLE = _sql_cbs()


ENTRIES = {
    "bm25_search": (q_bm25_search, SQL_BM25),
    "cluster_balanced_sample": (q_cluster_balanced_sample, SQL_CLUSTER_BALANCED_SAMPLE),
    "embed_cosine_topk": (q_embed_cosine_topk, SQL_EMBED_TOPK),
    "embed_decontaminate": (q_embed_decontaminate, SQL_EMBED_DECONTAMINATE),
    "embed_dup_clusters": (q_embed_dup_clusters, SQL_EMBED_DUP_CLUSTERS),
    "embed_feature_stats": (q_embed_feature_stats, SQL_EMBED_FEATURE_STATS),
    "embed_int8_quant": (q_embed_int8_quant, SQL_EMBED_INT8_QUANT),
    "embed_ivf_topk": (q_embed_ivf_topk, SQL_EMBED_IVF),
    "embed_kmeans_ivf": (q_embed_kmeans_ivf, SQL_EMBED_KMEANS_IVF),
    "embed_lsh_ann": (q_embed_lsh_ann, SQL_EMBED_LSH_ANN),
    "embed_near_dup": (q_embed_near_dup, SQL_EMBED_NEAR_DUP),
    "hybrid_rrf": (q_hybrid_rrf, SQL_HYBRID_RRF),
    "ivf_pq_search": (q_ivf_pq_search, SQL_IVF_PQ_SEARCH),
    "mrl_recall": (q_mrl_recall, SQL_MRL_RECALL),
    "pq_encode": (q_pq_encode, SQL_PQ_ENCODE),
    "pq_search": (q_pq_search, SQL_PQ_SEARCH),
    "semdedup": (q_semdedup, SQL_SEMDEDUP),
    "semdedup_ann": (q_semdedup_ann, SQL_SEMDEDUP_ANN),
    "semdedup_trained": (q_semdedup_trained, SQL_SEMDEDUP_TRAINED),
    "tfidf_terms": (q_tfidf_terms, SQL_TFIDF),
}
