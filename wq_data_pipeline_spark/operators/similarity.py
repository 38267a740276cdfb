"""Similarity search over embedding columns (array<float>).

- Brute-force cosine top-k: the exact baseline. Dot products via
  ``F.zip_with`` + ``F.aggregate`` (a sequential left fold — the same
  association order every engine uses for list reduction, and no
  Python UDF). Query set broadcast; one pass over the corpus.
- LSH-bucketed ANN: the 100-TB path. Random-hyperplane band
  signatures (md5-derived ±1 planes baked in as literals,
  :func:`band_sig_array`), bucket join instead of cross join. Recall
  tunable by bands/bits.
- Lloyd k-means (:func:`kmeans_centroids`) for IVF / SemDeDup coarse
  centroids.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window, functions as F

from wq_data_pipeline_spark.operators.pinning import pin


def dot(a: str | Column, b: str | Column) -> Column:
    ca = F.col(a) if isinstance(a, str) else a
    cb = F.col(b) if isinstance(b, str) else b
    prods = F.zip_with(ca, cb, lambda x, y: x.cast("double") * y.cast("double"))
    return F.aggregate(prods, F.lit(0.0), lambda acc, x: acc + x)


def norm(a: str | Column) -> Column:
    ca = F.col(a) if isinstance(a, str) else a
    sq = F.aggregate(
        ca, F.lit(0.0), lambda acc, x: acc + x.cast("double") * x.cast("double")
    )
    return F.sqrt(sq)


def cosine(a: str | Column, b: str | Column) -> Column:
    return dot(a, b) / (norm(a) * norm(b))


def brute_force_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    qid_col: str = "query_id",
) -> DataFrame:
    """Exact cosine top-k: broadcast the (small) query set against the
    corpus, rank per query. Deterministic tie-break on corpus id."""
    q = queries.select(
        F.col(id_col).alias(qid_col), F.col(vec_col).alias("_qv")
    )
    joined = corpus.crossJoin(F.broadcast(q)).filter(
        F.col(id_col) != F.col(qid_col)
    )
    scored = joined.select(
        qid_col,
        F.col(id_col).alias("neighbor_id"),
        cosine(vec_col, "_qv").alias("cos_sim"),
    )
    w = Window.partitionBy(qid_col).orderBy(F.desc("cos_sim"), F.asc("neighbor_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
    )


def hyperplane_components(plane: int, dim: int) -> list[float]:
    """The ±1 components of random hyperplane ``plane``: component i
    is +1 when the first hex digit of md5('<plane>:<i>') is even.
    Seedless and portable (the oracles replay the same digests), and
    evaluated once on the driver — the components are data-independent
    constants baked into the plan as literals."""
    import hashlib

    return [
        1.0
        if int(hashlib.md5(f"{plane}:{i}".encode()).hexdigest()[0], 16) % 2 == 0
        else -1.0
        for i in range(dim)
    ]


def _rp_sig_sql(vec_sql: str, n_planes: int, plane_offset: int, dim: int) -> str:
    """SQL text of the ``n_planes``-bit signature over the vector
    expression ``vec_sql``: bit p = sign(v · h) for the literal ±1
    plane h = hyperplane ``plane_offset + p`` (zip_with, left-fold
    aggregate seeded with a double 0.0, CASE per bit). Emitted as
    text so a whole signature array is ONE ``F.expr`` parse —
    assembling 8 bands × planes folds through the Python Column API
    is thousands of py4j round-trips (measured 3-5 s of driver-side
    plan construction per call). 0.0D/1.0D suffixes keep the literals
    DOUBLE (a bare 0.0 parses as DECIMAL)."""
    terms = []
    for p in range(n_planes):
        comps = hyperplane_components(plane_offset + p, dim)
        arr = "array(" + ",".join("1.0D" if c > 0 else "-1.0D" for c in comps) + ")"
        dot = (
            f"aggregate(zip_with({vec_sql}, {arr}, (x, h) -> "
            f"CAST(x AS DOUBLE) * h), CAST(0.0 AS DOUBLE), (acc, x) -> acc + x)"
        )
        terms.append(f"(CASE WHEN {dot} > 0 THEN {1 << p} ELSE 0 END)")
    return "(0 + " + " + ".join(terms) + ")"


def band_sig_array(vec_sql: str, bands: int, planes: int, dim: int) -> Column:
    """``array(struct(band, sig))`` of random-hyperplane band
    signatures over the ``dim``-wide vector SQL expression
    ``vec_sql``: band b's ``planes`` bits use the global plane indices
    [b*planes, (b+1)*planes). Pure per-row column algebra, one
    ``F.expr`` parse (see :func:`_rp_sig_sql`); explode it to get
    (band, sig) rows for a band join."""
    structs = ",".join(
        f"named_struct('band', {b}, 'sig', "
        f"{_rp_sig_sql(vec_sql, planes, b * planes, dim)})"
        for b in range(bands)
    )
    return F.expr(f"array({structs})")


def auto_planes_per_band(k: int) -> int:
    """Tuning law for banded random-hyperplane candidate joins
    (enforced in code per VERDICT r6 #4, not prose): candidates per
    vector ≈ k·bands/2^planes, so planes must grow with log2(k) to
    keep per-band buckets ≳ the centroid count and the candidate set
    O(bands). ceil(log2(k)) via bit_length — exact at powers of two,
    and identical to the oracle's CAST(ceil(log2(k)) AS INT)."""
    return max(1, (k - 1).bit_length())


def banded_signatures(
    df: DataFrame,
    id_out: str,
    vec_col: str,
    bands: int,
    planes: int,
    dim: int,
) -> DataFrame:
    """(id, band, sig) rows, id taken from the first column of ``df``:
    the :func:`band_sig_array` signatures of the
    HALF-AWAY-FROM-ZERO-rounded vector (integers), so every bit is
    bit-exact across engines (the q_semdedup_ann portability rule).
    Pure per-row column algebra — no shuffle."""
    vq = f"transform(`{vec_col}`, x -> CAST(round(x) AS BIGINT))"
    return df.select(
        F.col(df.columns[0]).alias(id_out),
        F.explode(band_sig_array(vq, bands, planes, dim)).alias("bs"),
    ).select(id_out, F.col("bs.band").alias("band"), F.col("bs.sig").alias("sig"))


def ivf_topk(
    corpus: DataFrame,
    queries: DataFrame,
    centroids: DataFrame,
    k: int = 5,
    nprobe: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    qid_col: str = "query_id",
    cid_col: str = "centroid_id",
) -> DataFrame:
    """IVF-style ANN: assign every corpus vector to its nearest
    centroid (one broadcast pass), then search only the query's top
    ``nprobe`` centroid buckets with exact cosine.

    At scale: the corpus assignment is a map-side broadcast join (the
    centroid table is small); the probe join shuffles on centroid id —
    candidate count ~ nprobe/n_centroids of the corpus instead of all
    of it. Recall rises with nprobe. Centroids can come from any
    source (sampled rows, k-means output); they are just a
    (centroid_id, vector) table."""
    cent = centroids.select(F.col(cid_col).alias("_cid"), F.col(vec_col).alias("_cv"))

    def nearest_buckets(df: DataFrame, key: str, vec: str, n: int) -> DataFrame:
        """(key, vec) -> (key, vec, _bucket) rows for the n nearest
        centroids of each input row."""
        scored = df.crossJoin(F.broadcast(cent)).withColumn(
            "_cs", cosine(F.col(vec), F.col("_cv"))
        )
        w = Window.partitionBy(key).orderBy(F.desc("_cs"), F.asc("_cid"))
        return (
            scored.withColumn("_rn", F.row_number().over(w))
            .filter(F.col("_rn") <= n)
            .select(key, vec, F.col("_cid").alias("_bucket"))
        )

    # corpus assignment keeps the window form: with a SMALL trained
    # centroid table (the ivf_topk contract — k fixed, not ∝ n) the
    # n x k expansion is modest and one pass over the corpus beats
    # the narrow-argmax + join-back split, which executes the corpus
    # subtree twice (measured at 10x replica scale: split 10.4 s vs
    # window ~5 s at k=8). When centroid count GROWS with the corpus
    # (stride centroids, k ~ n/target), use the narrow max_by split
    # instead — see semdedup / q_embed_ivf_topk / q_semdedup_trained.
    assigned = nearest_buckets(
        corpus.select(F.col(id_col), F.col(vec_col)), id_col, vec_col, 1
    )
    probes = nearest_buckets(
        queries.select(F.col(id_col).alias(qid_col), F.col(vec_col).alias("_qv")),
        qid_col,
        "_qv",
        nprobe,
    )
    cand = assigned.join(F.broadcast(probes), on="_bucket").filter(
        F.col(id_col) != F.col(qid_col)
    )
    scored = cand.select(
        qid_col, F.col(id_col).alias("neighbor_id"), cosine(vec_col, "_qv").alias("cos_sim")
    )
    w = Window.partitionBy(qid_col).orderBy(F.desc("cos_sim"), F.asc("neighbor_id"))
    return scored.withColumn("rank", F.row_number().over(w)).filter(F.col("rank") <= k)


def kmeans_centroids(
    corpus: DataFrame,
    k: int = 16,
    iters: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Lloyd k-means trainer for IVF / SemDeDup coarse centroids over
    equal-width vectors; returns a (centroid_id, ``vec_col``)
    DataFrame ready for :func:`ivf_topk` (an empty one, same schema,
    for an empty corpus).

    Deterministic seedless init: the k corpus vectors with the
    smallest md5(id) (uniform pseudo-random, engine/partition
    independent; ties by input row order), numbered 0..k-1 in md5 order.
    Each round assigns every vector to the centroid with the highest
    dot against the L2-normalized centroids (== highest cosine), ties
    to the lowest centroid id, then replaces each centroid with its
    cluster's mean; an empty cluster keeps its previous centroid.

    Centroid state is a k-row DataFrame, localCheckpoint'ed per round;
    the driver never holds the k×dim floats. Each round gathers the
    normalized centroids into one array and broadcasts it, every row
    takes its argmax in place (``transform`` + ``array_position`` of
    ``array_max`` — no n×k scored rows, no grouping by id, so
    duplicate ids are assigned row by row), and one groupBy on the
    centroid id computes the per-position means and, from the
    previous centroids unioned in, the carry-over: four Spark jobs
    per round. Per-round cost is the k×dim broadcast per executor. Norms and dots are left-to-right folds; the means merge
    partial double sums in a partitioning-dependent order, so results
    are bit-exact on integer-valued vectors (exact sums — what the
    catalog oracles replay) and agree to ~1e-9 relative otherwise.
    """
    from wq_data_pipeline_spark.operators.scale import spread_small_scan

    spark = corpus.sparkSession
    # the row id only breaks md5 ties between duplicate ids; the lazy
    # pin is materialized by the stats job
    base = pin(
        spread_small_scan(
            corpus.select(
                id_col, F.col(vec_col).cast("array<double>").alias(vec_col)
            ).withColumn("_row", F.monotonically_increasing_id())
        )
    )
    stats = base.agg(
        F.count(F.lit(1)).alias("n"), F.max(F.size(vec_col)).alias("dim")
    ).first()
    if k <= 0 or stats["n"] == 0:
        # no seeds to train from: the contract schema, empty
        return spark.createDataFrame([], f"centroid_id INT, {vec_col} ARRAY<DOUBLE>")
    dim = stats["dim"]

    seeds = (
        base.withColumn("_h", F.md5(F.col(id_col).cast("string")))
        .orderBy("_h", "_row")
        .limit(k)
    )
    cent = seeds.select(
        (F.row_number().over(Window.orderBy("_h", "_row")) - 1)
        .cast("int")
        .alias("centroid_id"),
        F.col(vec_col),
    ).localCheckpoint()

    # centroid ids are 0..k-1 in array order, so the first maximal
    # position is the lowest tied centroid id
    sims = F.transform(
        "_cs",
        lambda c: F.aggregate(
            F.zip_with(F.col(vec_col), c, lambda x, h: x * h),
            F.lit(0.0),
            lambda a, x: a + x,
        ),
    )
    best = (F.array_position(sims, F.array_max(sims)) - 1).cast("int")
    gather = F.sort_array(
        F.collect_list(F.struct("centroid_id", _l2_normed(vec_col).alias("v")))
    )
    # per-position member means and, from the one previous row per id,
    # the previous centroid; SQL text, one parse per column instead of
    # several py4j calls each
    pos = range(dim)
    means = [F.count(vec_col).alias("_n")]
    means += [F.expr(f"avg(get(`{vec_col}`, {i})) AS _m{i}") for i in pos]
    means += [F.expr(f"max(get(_prev, {i})) AS _p{i}") for i in pos]
    new_vec = F.expr(
        f"CASE WHEN _n > 0 THEN array({', '.join(f'_m{i}' for i in pos)}) "
        f"ELSE array({', '.join(f'_p{i}' for i in pos)}) END"
    ).alias(vec_col)
    for _ in range(iters):
        cs = cent.agg(gather.alias("_cs")).select(
            F.transform("_cs", lambda s: s["v"]).alias("_cs")
        )
        members = (
            base.crossJoin(F.broadcast(cs))
            .select(best.alias("centroid_id"), vec_col)
            .where(F.col("centroid_id").isNotNull())  # NULL vector: no dot
        )
        prev = cent.select("centroid_id", F.col(vec_col).alias("_prev"))
        cent = (
            members.unionByName(prev, allowMissingColumns=True)
            .groupBy("centroid_id")
            .agg(*means)
            .select("centroid_id", new_vec)
            .localCheckpoint()
        )
    return cent.select("centroid_id", vec_col)


def _l2_normed(vec_col: str) -> Column:
    nrm = F.sqrt(
        F.aggregate(
            F.transform(F.col(vec_col), lambda x: x * x),
            F.lit(0.0),
            lambda a, x: a + x,
        )
    )
    return F.when(
        nrm > 0, F.transform(F.col(vec_col), lambda x: x / nrm)
    ).otherwise(F.transform(F.col(vec_col), lambda x: x * F.lit(0.0)))


def kmeans_inertia(
    corpus: DataFrame,
    centroids: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> float:
    """Sum over vectors of (1 - cosine to nearest centroid) — the
    cosine-space objective kmeans_centroids descends; exposed for
    convergence tests."""
    cent = centroids.select(
        F.col("centroid_id").alias("_cid"), F.col(vec_col).alias("_cv")
    )
    scored = corpus.select(id_col, vec_col).crossJoin(F.broadcast(cent))
    w = Window.partitionBy(id_col).orderBy(F.desc(cosine(vec_col, "_cv")), F.asc("_cid"))
    best = scored.withColumn("_rn", F.row_number().over(w)).filter(F.col("_rn") == 1)
    return best.agg(
        F.sum(F.lit(1.0) - cosine(vec_col, "_cv")).alias("s")
    ).first()["s"]


def near_dup_pairs(
    corpus: DataFrame,
    threshold: float = 0.9,
    n_bands: int = 8,
    planes_per_band: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    *,
    dim: int,
) -> DataFrame:
    """Embedding-cosine near-duplicate detection (the dedup-family
    member over vectors): candidate pairs from banded random-hyperplane
    LSH self-join, then exact cosine >= threshold. Output one row per
    unordered pair ``(id_a < id_b, cos_sim)``. ``dim`` is the embedding
width (the hyperplanes are baked in as literal arrays).

    At scale this replaces the O(n^2) all-pairs cross join with ONE
    shuffle of skinny (id, band, sig) rows — bands are unpivoted to
    rows and self-joined on (band, sig) in a single exchange, and the
    vector payloads are joined back only for surviving candidate
    pairs. (The r1 one-join-per-band union ran n_bands shuffle legs
    concurrently and carried vectors through every one.) Recall
    follows the 1-(1-p^r)^b amplification curve, so high thresholds
    (true near-dups, p -> 1) are caught with near-certainty; the exact
    all-pairs form (``exact_near_dup_pairs``) is the ground truth the
    tests compare against."""
    band_sigs = band_sig_array(f"`{vec_col}`", n_bands, planes_per_band, dim)
    d = corpus.select(F.col(id_col), F.explode(band_sigs).alias("bs")).select(
        id_col, F.col("bs.band").alias("band"), F.col("bs.sig").alias("sig")
    )
    a = d.select(F.col(id_col).alias("id_a"), "band", "sig")
    b = d.select(F.col(id_col).alias("id_b"), "band", "sig")
    cand = (
        a.join(b, on=["band", "sig"])
        .filter(F.col("id_a") < F.col("id_b"))
        .dropDuplicates(["id_a", "id_b"])
    )
    va = corpus.select(F.col(id_col).alias("id_a"), F.col(vec_col).alias("_va"))
    vb = corpus.select(F.col(id_col).alias("id_b"), F.col(vec_col).alias("_vb"))
    return (
        cand.join(va, "id_a")
        .join(vb, "id_b")
        .select("id_a", "id_b", cosine("_va", "_vb").alias("cos_sim"))
        .filter(F.col("cos_sim") >= threshold)
    )


def exact_near_dup_pairs(
    corpus: DataFrame,
    threshold: float = 0.9,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Ground-truth all-pairs variant (O(n^2) — small corpora /
    validation only)."""
    a = corpus.select(F.col(id_col).alias("id_a"), F.col(vec_col).alias("_va"))
    b = corpus.select(F.col(id_col).alias("id_b"), F.col(vec_col).alias("_vb"))
    j = a.crossJoin(b).filter(F.col("id_a") < F.col("id_b"))
    return j.select(
        "id_a", "id_b", cosine("_va", "_vb").alias("cos_sim")
    ).filter(F.col("cos_sim") >= threshold)


def quantized_cosine(a: str | Column, b: str | Column) -> Column:
    """Cosine over integer-quantized vectors (array<long>): the dot
    product and both norms are EXACT integer folds, converted to
    double only for the final sqrt/divide — bit-identical across
    engines, which is what makes similarity thresholds oracle-exact
    (same precedent as the IVF / near-dup catalog entries)."""
    ca = F.col(a) if isinstance(a, str) else a
    cb = F.col(b) if isinstance(b, str) else b
    zero = F.lit(0).cast("long")
    d = F.aggregate(F.zip_with(ca, cb, lambda x, y: x * y), zero, lambda s, x: s + x)
    n1 = F.aggregate(F.transform(ca, lambda x: x * x), zero, lambda s, x: s + x)
    n2 = F.aggregate(F.transform(cb, lambda x: x * x), zero, lambda s, x: s + x)
    return d.cast("double") / (F.sqrt(n1.cast("double")) * F.sqrt(n2.cast("double")))


def semdedup(
    emb: DataFrame,
    centroids: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "q",
    cid_col: str = "centroid_id",
    cvec_col: str = "cq",
    tau: float = 0.97,
) -> DataFrame:
    """SemDeDup (Abbas et al. 2023, arXiv:2303.09540): cluster the
    embedding space coarsely, then inside each cluster mark as
    semantic duplicates every vector whose cosine similarity to an
    EARLIER (lower-id) cluster member is >= tau. The min-id greedy
    rule replaces the paper's keep-farthest-from-centroid tie-break
    with a deterministic, engine-portable one.

    ``emb`` holds (id_col, vec_col) with integer-quantized vectors;
    ``centroids`` holds (cid_col, cvec_col) — either a deterministic
    stride sample or trained k-means means (quantized). ``id_col``
    must be UNIQUE: the narrow-argmax assignment joins the winning
    cluster back to ``emb`` by id, so a duplicated id would fan out
    into phantom within-cluster pairs.

    Returns one row per vector:
    (id, cluster_id, is_dup, n_dup_earlier, max_sim_earlier).

    Scale shape (100 TB): centroid assignment is a broadcast
    crossJoin (k centroids ship to every task; no shuffle of the
    corpus) followed by a per-vector row_number — the window
    partitions on the vector id, so it is skew-free. The only wide
    op on corpus-sized data is the within-cluster self-join, which
    shuffles on cluster id; pair work is sum over clusters of
    |c|^2, the quantity SemDeDup controls by choosing k ~ n/target
    cluster size (AQE skew-split handles stragglers). No connected
    components needed: the earlier-id rule is a single join + agg.

    Measured caveat (r5 scale validation, BASELINE.md): if the
    centroid table is a FIXED-STRIDE sample (the oracle-exact form the
    catalog entry uses), centroid count grows ∝ n and the exact
    assignment crossJoin is O(n²/stride) — 1×/3×/10× replica scaling
    measured exponent 1.56. At scale pass trained fixed-k centroids
    (``kmeans_centroids``) sized k ∝ n/target-cluster-size and swap
    the exact assignment for ANN (``ivf_topk`` buckets or
    ``banded_signatures``); this function's within-cluster stage is
    unchanged by either assignment source.
    """
    # assignment via NARROW partial-aggregable max_by, not a
    # row_number window over the n x centroid expansion (the window
    # form shuffles and sorts every scored row with the vector
    # duplicated along; max_by combines map-side so only n rows
    # shuffle). Same values and tie rule (cs DESC, cid ASC).
    ids = (
        emb.crossJoin(F.broadcast(centroids))
        .select(
            F.col(id_col),
            F.col(cid_col),
            quantized_cosine(vec_col, cvec_col).alias("_cs"),
        )
        .groupBy(id_col)
        .agg(
            F.max_by(F.col(cid_col), F.struct(F.col("_cs"), -F.col(cid_col))).alias(
                "cluster_id"
            )
        )
    )
    assigned = emb.join(ids, id_col).select(id_col, vec_col, "cluster_id")
    # the within stage reads `assigned` twice (a/b join sides), which
    # would re-run the n x centroid scoring once per side: pin it
    assigned = pin(assigned, eager=True)
    return semdedup_within(assigned, id_col=id_col, vec_col=vec_col, tau=tau)


def semdedup_within(
    assigned: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "q",
    tau: float = 0.97,
    dim: int | None = None,
) -> DataFrame:
    """Within-cluster earlier-id duplicate marking over a PRE-ASSIGNED
    (id, vec, ``cluster_id``) frame — the second half of
    :func:`semdedup`, split out so the assignment source is pluggable
    (stride centroids, trained k-means means, ANN buckets). The
    catalog's ``semdedup_trained`` entry feeds this from
    :func:`kmeans_centroids` output, which is the at-scale composition
    the stride entry's docstring prescribes: cluster count fixed by
    k ~ n/target-size, so per-cluster pair work stays bounded as the
    corpus grows.

    r13 (guide §1.2 — per-pair work): each vector's norm is computed
    ONCE per row before the self-join instead of once per PAIR inside
    ``quantized_cosine`` (pair work is sum |c|² over clusters — the
    norms were the larger half of it), and when ``dim`` is known the
    pair dot is an unrolled integer multiply-add chain (one expr
    parse) instead of a zip_with array allocation + fold per pair.
    Bit-exact either way: the integer dot and norms are exact in any
    association order, and sqrt/divide touch the same doubles as
    ``quantized_cosine`` did. A pair with a vector whose width is not
    ``dim`` gets a NULL similarity and is dropped — the zip_with fold's
    treatment of mismatched widths — instead of indexing past the
    array end, which throws INVALID_ARRAY_INDEX under ANSI mode."""
    zero = F.lit(0).cast("long")
    nrm = F.sqrt(
        F.aggregate(
            F.transform(F.col(vec_col), lambda x: x * x), zero, lambda s, x: s + x
        ).cast("double")
    )
    a = assigned.select(
        F.col(id_col).alias("_id_a"),
        F.col(vec_col).alias("_qa"),
        nrm.alias("_na"),
        "cluster_id",
    )
    b = assigned.select(
        F.col(id_col).alias("_id_b"),
        F.col(vec_col).alias("_qb"),
        nrm.alias("_nb"),
        "cluster_id",
    )
    if dim is not None:
        dot = F.expr(
            f"CASE WHEN size(`_qa`) = {dim} AND size(`_qb`) = {dim} THEN ("
            + " + ".join(f"`_qa`[{i}] * `_qb`[{i}]" for i in range(dim))
            + ") END"
        )
    else:
        dot = F.aggregate(
            F.zip_with(F.col("_qa"), F.col("_qb"), lambda x, y: x * y),
            zero,
            lambda s, x: s + x,
        )
    sims = (
        a.join(b, "cluster_id")
        .filter(F.col("_id_b") < F.col("_id_a"))
        .withColumn("_sim", dot.cast("double") / (F.col("_na") * F.col("_nb")))
        .filter(F.col("_sim") >= F.lit(tau))
    )
    dup = sims.groupBy(F.col("_id_a").alias(id_col)).agg(
        F.count(F.lit(1)).alias("n_dup_earlier"),
        F.round(F.max("_sim"), 6).alias("max_sim_earlier"),
    )
    return assigned.join(dup, id_col, "left").select(
        id_col,
        "cluster_id",
        F.col("n_dup_earlier").isNotNull().alias("is_dup"),
        F.coalesce("n_dup_earlier", F.lit(0).cast("long")).alias("n_dup_earlier"),
        "max_sim_earlier",
    )
