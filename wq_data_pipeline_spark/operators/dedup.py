"""Deduplication operators: exact, fingerprint, MinHash+LSH, SimHash,
n-gram Jaccard.

Scale design (the point of these at 100 TB):
- Exact/fingerprint dedup is one hash-groupBy — embarrassingly
  parallel, one shuffle on the hash.
- MinHash signatures are computed per-row (no shuffle); LSH banding
  turns all-pairs comparison into a groupBy on band keys, so the
  candidate-pair join touches only same-bucket docs. The only
  all-pairs fallback (jaccard_pairs) is for verification of bounded
  candidate sets.
- Portability: shingle hashes are the first 8 hex digits of md5 (md5
  is identical everywhere) read as a 32-bit integer; the k minhash
  functions are affine permutations (A_i*h + B_i) mod (2^61-1) of
  that ONE digest — one md5 per shingle total, not one per seed, and
  every constant is a plain integer literal that any SQL dialect can
  reproduce.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, functions as F
from pyspark.sql.types import StructField, StructType

from wq_data_pipeline_spark.operators.pinning import (
    collect_if_small,
    driver_frame,
    pin,
    unpin,
)
from wq_data_pipeline_spark.operators.text import distinct_words, doc_fingerprint


def exact_dedup(
    df: DataFrame, text: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Exact dedup: md5-of-text groups; canonical = min id. Returns
    per-row (id, canonical_id, is_duplicate)."""
    d = df.withColumn("_h", F.md5(F.col(text)))
    canon = d.groupBy("_h").agg(F.min(id_col).alias("canonical_id"))
    return (
        d.join(canon, on="_h")
        .withColumn("is_duplicate", F.col(id_col) != F.col("canonical_id"))
        .drop("_h")
    )


def fingerprint_groups(
    df: DataFrame, text: str = "text", id_col: str = "doc_id", min_size: int = 2
) -> DataFrame:
    """Near-dup clusters by order-insensitive word-set fingerprint."""
    d = df.withColumn("fp", doc_fingerprint(text))
    return (
        d.groupBy("fp")
        .agg(F.count(F.lit(1)).alias("n_docs"), F.min(id_col).alias("canonical_id"))
        .filter(F.col("n_docs") >= min_size)
    )


_MH_P = (1 << 61) - 1  # Mersenne prime modulus for the permutations


def minhash_coeffs(num_hashes: int) -> list[tuple[int, int]]:
    """Deterministic (A_i, B_i) permutation constants (odd multiplier
    < 2^31, offset < 2^31): A_i*h fits int64 for 32-bit h, and the
    mod by 2^61-1 breaks monotonicity so each seed picks an
    independent min shingle. Plain literals — no RNG, no engine hash."""
    coeffs = []
    for i in range(num_hashes):
        a = (((2 * i + 1) * 0x9E3779B1) & 0x7FFFFFFF) | 1
        b = ((i + 1) * 0x85EBCA6B) & 0x7FFFFFFF
        coeffs.append((a, b))
    return coeffs


def shingle_hash(col: str | Column) -> Column:
    """32-bit shingle hash: first 8 hex digits of md5, as BIGINT —
    one md5 per shingle, portable to any engine with md5()."""
    c = F.col(col) if isinstance(col, str) else col
    return F.conv(F.substring(F.md5(c), 1, 8), 16, 10).cast("long")


def minhash_signatures_table(
    df: DataFrame,
    text: str = "text",
    id_col: str = "doc_id",
    num_hashes: int = 32,
    shingle_n: int = 3,
) -> DataFrame:
    """MinHash signatures via explode + groupBy — the scale form.

    Exploding shingles to rows computes them once per document, and
    the per-seed minima come from one partial-aggregated groupBy
    (map-side combine, one shuffle on id). ``explode_outer`` keeps
    shingle-less docs (NULL signature). One md5 per shingle row; the k
    permutations are integer multiply-add-mod (cheap JVM codegen, no
    string churn).
    The token array is materialized as a column BEFORE the shingle
    transform so the tokenize runs once per document — an inline
    ``tokens(text)`` expression re-evaluates per gram position inside
    the transform lambda (r12; measured 4-6x on this stage)."""
    from wq_data_pipeline_spark.operators.text import shingles_from_tokens, tokens

    sh = df.select(F.col(id_col), tokens(text).alias("_toks")).select(
        F.col(id_col),
        F.explode_outer(shingles_from_tokens(F.col("_toks"), shingle_n)).alias("_s"),
    ).withColumn("_h", shingle_hash("_s"))
    aggs = [
        F.min((F.lit(a) * F.col("_h") + F.lit(b)) % F.lit(_MH_P)).alias(f"mh{i}")
        for i, (a, b) in enumerate(minhash_coeffs(num_hashes))
    ]
    return sh.groupBy(id_col).agg(*aggs)


def lsh_bands(sig_cols: list[str], rows_per_band: int = 2) -> list[Column]:
    """Band keys: hash of each consecutive group of signature rows.
    Docs sharing ANY band key are near-dup candidates."""
    bands = []
    for b in range(0, len(sig_cols), rows_per_band):
        group = sig_cols[b : b + rows_per_band]
        bands.append(
            F.md5(F.concat_ws("|", *[F.col(c) for c in group])).alias(f"band{b // rows_per_band}")
        )
    return bands


def minhash_lsh_candidates(
    df: DataFrame,
    text: str = "text",
    id_col: str = "doc_id",
    num_hashes: int = 32,
    rows_per_band: int = 4,
    shingle_n: int = 3,
    max_df: int | None = 100,
) -> DataFrame:
    """Candidate near-dup pairs via MinHash-LSH banding: signature ->
    band keys -> unpivot bands to rows -> ONE self-join on
    (band_idx, band_key).

    The single-join form replaces the r1 shape (one self-join per
    band, unioned): same candidate set, but 1 shuffle of 8n skinny
    rows instead of 16 shuffle legs that the scheduler runs
    concurrently — at 32 map tasks the unioned form's simultaneous
    shuffle-write buffers alone exhausted a 1 GB driver heap, and on
    a real cluster it's 8× the stage count for nothing.

    ``max_df`` is the hot-bucket guard: a (band, key) bucket holding
    more than ``max_df`` docs is dropped before the self-join —
    without it one degenerate band key (boilerplate, empty docs, a
    template) makes the bucket-join quadratic in that bucket's size,
    which at corpus scale is THE failure mode of LSH dedup. Work per
    bucket is then bounded by max_df²; docs that agree on a band this
    common are either exact dups (caught upstream by
    :func:`exact_dedup`) or template spam a near-dup pass shouldn't
    chain through anyway. The guard count is a window over the SAME
    (band, key) partitioning the join shuffles on — no extra
    aggregate/semi-join legs. ``None`` disables.

    PRECONDITION of the default guard: run :func:`exact_dedup`
    upstream. A group of more than ``max_df`` byte-identical docs
    shares every band key, so the guard drops ALL its pairs and the
    group stays singletons in downstream clustering — exact dedup
    collapses such groups first, which is also the only shape of the
    pipeline that is cost-sane at corpus scale. Pass ``max_df=None``
    if candidates must be exhaustive on an un-exact-deduped corpus.

    Defaults (32 hashes, 4 rows/band -> 8 bands) target high recall
    at real near-dup thresholds: P(candidate) = 1-(1-J^4)^8, ~0.985
    at J=0.8 and ~0.9998 at J=0.9 (the s-curve knee sits near 0.72).
    The r1 defaults (8 hashes, 4 bands of 2) were recall-thin at 0.8."""
    d = _band_rows(df, text, id_col, num_hashes, rows_per_band, shingle_n)
    if max_df is not None:
        d = _hot_bucket_guard(d, max_df)
    # the guarded band rows feed BOTH sides of the self-join, and the
    # sides stop being exchange-identical once AQE broadcasts one of
    # them — the whole shingle-explode + per-shingle-md5 signature
    # build then executes twice (initial-plan audit r12: two full
    # subtrees, no ReusedExchange). Materialize the skinny (id, band,
    # key) rows once — this is exactly the signature table a
    # production dedup persists — and join the checkpoint to itself.
    d = pin(d, eager=False)
    a = d.select(F.col(id_col).alias("id_a"), "band", "key")
    b = d.select(F.col(id_col).alias("id_b"), "band", "key")
    return (
        a.join(b, on=["band", "key"])
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b")
        .distinct()
    )


def _band_rows(
    df: DataFrame,
    text: str,
    id_col: str,
    num_hashes: int,
    rows_per_band: int,
    shingle_n: int,
) -> DataFrame:
    """(id, band, key) rows: signatures -> band keys -> unpivot.
    Shared by the self-join (:func:`minhash_lsh_candidates`) and the
    incremental batch-vs-corpus join
    (:func:`incremental_lsh_candidates`)."""
    sig = minhash_signatures_table(df, text, id_col, num_hashes, shingle_n)
    band_cols = lsh_bands([f"mh{i}" for i in range(num_hashes)], rows_per_band)
    n_bands = len(band_cols)
    banded = sig.select(id_col, *band_cols)
    kv = F.array(
        *[
            F.struct(F.lit(b).alias("band"), F.col(f"band{b}").alias("key"))
            for b in range(n_bands)
        ]
    )
    return banded.select(id_col, F.explode(kv).alias("bk")).select(
        id_col, F.col("bk.band").alias("band"), F.col("bk.key").alias("key")
    )


def _hot_bucket_guard(d: DataFrame, max_df: int) -> DataFrame:
    """Drop (band, key) buckets holding more than ``max_df`` ids —
    window over the SAME partitioning the downstream join shuffles on."""
    from pyspark.sql import Window

    return (
        d.withColumn(
            "_df", F.count(F.lit(1)).over(Window.partitionBy("band", "key"))
        )
        .filter(F.col("_df") <= max_df)
        .drop("_df")
    )


def incremental_lsh_candidates(
    new_df: DataFrame,
    corpus_df: DataFrame,
    text: str = "text",
    id_col: str = "doc_id",
    num_hashes: int = 32,
    rows_per_band: int = 4,
    shingle_n: int = 3,
    max_df: int | None = 100,
) -> DataFrame:
    """Candidate near-dup pairs between an INCOMING BATCH and the
    EXISTING CORPUS — the incremental-ingest shape: band rows are
    computed for both sides and joined batch->corpus on (band, key),
    so each ingest pays O(|batch| + matching corpus buckets), never
    a corpus x corpus self-join. At 100 TB this is the difference
    between re-deduping the lake per ingest and a lookup join against
    a (bucketable, reusable) corpus signature table — the corpus band
    rows are a pure function of the corpus and would be persisted/
    bucketed by (band, key) in a real deployment (see
    sources/bucketed.py), making the ingest-side join shuffle-free on
    the corpus side.

    The ``max_df`` hot-bucket guard applies to CORPUS buckets (the
    unbounded side): a degenerate band key shared by >max_df corpus
    docs would make the bucket join quadratic in corpus spam; batch
    docs landing only in such buckets surface as novel, same contract
    as the self-join form's guard. Returns (new_id, corpus_id).
    """
    nb = _band_rows(new_df, text, id_col, num_hashes, rows_per_band, shingle_n)
    cb = _band_rows(
        corpus_df, text, id_col, num_hashes, rows_per_band, shingle_n
    )
    if max_df is not None:
        cb = _hot_bucket_guard(cb, max_df)
    n = nb.select(F.col(id_col).alias("new_id"), "band", "key")
    c = cb.select(F.col(id_col).alias("corpus_id"), "band", "key")
    return (
        n.join(c, on=["band", "key"]).select("new_id", "corpus_id").distinct()
    )


def word_bit_profiles(text: str | Column, salt: str = "") -> Column:
    """Per-word md5 parity profile, packed: element w of the returned
    array<long> has bit j set iff hex digit j+1 of md5(w) is odd —
    ONE md5 + one translate + one conv per word, instead of the
    per-bit md5 the r2 simhash form paid (bits× redundant digest
    work; the digest yields all 32 digits at once). translate maps
    each hex digit to its parity character; conv reads the 32-char
    '0'/'1' string as base-2, so digit 1 lands at the MSB and bit j
    of the profile is tested at position (31 - j). Hot paths should
    MATERIALIZE this array (or the :func:`simhash_vote_counts` fold
    over it) in a select before fanning out per-bit expressions, so
    the digest pass is guaranteed to run once per word per salt."""
    words = distinct_words(text)
    if salt:
        words = F.transform(words, lambda w: F.concat(w, F.lit(salt)))
    return F.transform(
        words,
        lambda w: F.conv(
            F.translate(F.md5(w), "0123456789abcdef", "0101010101010101"), 2, 10
        ).cast("long"),
    )


def simhash_vote_counts(profiles: Column, bits: int) -> Column:
    """Fold a :func:`word_bit_profiles` array into per-bit set-counts
    (array<int> of length ``bits``): counts[j] = number of words whose
    md5 hex digit j+1 is odd. ONE traversal of the profile array."""
    # bit j of the profile sits at position 31 - j (conv reads digit 1
    # as the MSB); a literal mask array keeps the test pure integer ops
    masks = F.array(*[F.lit(1 << (31 - j)) for j in range(bits)])
    return F.aggregate(
        profiles,
        F.array_repeat(F.lit(0), bits),
        lambda acc, x: F.zip_with(
            acc,
            F.transform(
                masks,
                lambda m: F.when(x.bitwiseAND(m) != 0, F.lit(1)).otherwise(
                    F.lit(0)
                ),
            ),
            lambda a, b: a + b,
        ),
    )


def simhash_from_counts(counts: str | Column, nwords: str | Column, bits: int) -> Column:
    """Assemble the simhash integer from MATERIALIZED vote counts and
    word count: bit j set iff 2*counts[j] - nwords > 0 (majority of
    words vote 1). Cheap per-bit element_at only — callers pass real
    columns so the digest fold behind ``counts`` is never duplicated."""
    c = F.col(counts) if isinstance(counts, str) else counts
    n = F.col(nwords) if isinstance(nwords, str) else nwords
    acc = F.lit(0)
    for j in range(bits):
        acc = acc + F.when(
            F.element_at(c, j + 1) * 2 - n > 0, F.lit(1 << j)
        ).otherwise(0)
    return acc


def simhash_bits(text: str | Column, bits: int = 16, salt: str = "") -> Column:
    """SimHash over the distinct word set: bit j of the hash is the
    sign of sum over words of (+1 if bit j of md5(word) else -1).
    Returns the integer simhash. Bit j of a word's md5 = parity of
    hex digit j (deterministic, engine-portable; odd digit == bit
    set — exactly the old IN-odd-hex-digit test). ``salt`` appends a
    literal to each word before hashing — md5 yields 32 hex digits,
    so one expression caps at 32 bits; wider fingerprints concatenate
    independently-salted words (see :func:`simhash_hamming_pairs`).

    Single-column convenience form: the per-bit vote assembly refers
    to the vote-count fold once per bit, so whether the digest pass
    is deduplicated depends on codegen subexpression elimination. Hot
    paths (q_simhash, simhash_hamming_pairs) instead materialize
    :func:`word_bit_profiles` -> :func:`simhash_vote_counts` between
    selects and assemble with :func:`simhash_from_counts`, which
    guarantees ONE md5 per word per salt."""
    counts = simhash_vote_counts(word_bit_profiles(text, salt), bits)
    nwords = F.size(distinct_words(text))
    return simhash_from_counts(counts, nwords, bits)


SIMHASH_SALTS = ("", "#2")  # per-word salts for the fingerprint words


def simhash_hamming_pairs(
    df: DataFrame,
    text: str = "text",
    id_col: str = "doc_id",
    n_words: int = 2,
    word_bits: int = 32,
    n_bands: int = 4,
    max_hamming: int = 3,
) -> DataFrame:
    """SimHash near-dup pairs via Hamming-block banding (Manku et al.
    2007, WWW — Google's web-dedup scheme): the fingerprint is
    ``n_words`` independently-salted ``word_bits``-bit simhashes
    (md5 gives 32 portable bits per expression; 2×32 = the 64-bit
    production width) split into ``n_bands`` equal blocks. By
    pigeonhole, any pair within Hamming distance < n_bands agrees on
    at least one whole block, so a per-block equi-join finds ALL such
    pairs (recall 1.0 by construction, unlike MinHash-LSH's
    probabilistic recall) and only block collisions pay the popcount
    verify. Returns (id_a, id_b, hamming), hamming over the full
    fingerprint, pairs <= max_hamming.

    REQUIRES max_hamming < n_bands for the recall guarantee.

    Scale: the block join is the same banded single-join shape as
    :func:`minhash_lsh_candidates` — one shuffle of n_bands·n skinny
    rows. Chance block collisions grow as n²/2^block_bits, so block
    width is THE scale knob: the default 4×16-bit blocks (Manku's
    configuration, 65 536 values/block) keep the verify linear-ish
    until ~10⁷ docs per band value; 8-bit blocks measured 10×
    superlinear at 50k docs before this default. Pairs beyond the
    radius die map-side inside the join's codegen stage (popcount
    before distinct) and never shuffle. A degenerate block value
    (near-empty docs hashing alike) concentrates a bucket;
    exact-dedup upstream is the control, same playbook as the LSH
    guard."""
    if max_hamming >= n_bands:
        raise ValueError("recall guarantee needs max_hamming < n_bands")
    total_bits = n_words * word_bits
    assert total_bits % n_bands == 0
    block = total_bits // n_bands
    assert block <= word_bits and word_bits % block == 0, (
        "blocks must not straddle fingerprint words"
    )
    assert n_words <= len(SIMHASH_SALTS)
    # two-select profile materialization (see word_bit_profiles): the
    # inner select folds ONE md5 pass per word per salt into vote
    # counts; the outer select assembles bits from the materialized
    # counts — the old per-bit simhash_bits columns re-digested every
    # word word_bits× per salt
    pre = df.select(
        F.col(id_col),
        F.size(distinct_words(text)).alias("_nw"),
        *[
            simhash_vote_counts(
                word_bit_profiles(text, SIMHASH_SALTS[i]), word_bits
            ).alias(f"_c{i}")
            for i in range(n_words)
        ],
    )
    sig = pre.select(
        F.col(id_col),
        *[
            simhash_from_counts(f"_c{i}", "_nw", word_bits)
            .cast("long")
            .alias(f"_sh{i}")
            for i in range(n_words)
        ],
    )
    # the signature table feeds BOTH sides of the block self-join; the
    # join sides are not exchange-identical after AQE's broadcast
    # conversion, so without a cut the whole signature build executes
    # twice (initial-plan audit: two full Scan->Project subtrees).
    # Materialize once — skinny (id + n_words longs) — and derive both
    # sides' cheap integer block keys from the checkpoint.
    sig = pin(sig, eager=True)
    blocks_per_word = word_bits // block
    kv = F.array(
        *[
            F.struct(
                F.lit(b).alias("band"),
                F.shiftright(
                    F.col(f"_sh{b // blocks_per_word}"),
                    (b % blocks_per_word) * block,
                )
                .bitwiseAND(F.lit((1 << block) - 1))
                .alias("key"),
            )
            for b in range(n_bands)
        ]
    )
    names = [f"_sh{i}" for i in range(n_words)]
    d = sig.select(id_col, *names, F.explode(kv).alias("bk")).select(
        id_col, *names, F.col("bk.band").alias("band"), F.col("bk.key").alias("key")
    )
    a = d.select(
        F.col(id_col).alias("id_a"),
        *[F.col(n).alias(f"_a{i}") for i, n in enumerate(names)],
        "band",
        "key",
    )
    b = d.select(
        F.col(id_col).alias("id_b"),
        *[F.col(n).alias(f"_b{i}") for i, n in enumerate(names)],
        "band",
        "key",
    )
    ham = sum(
        (
            F.bit_count(F.col(f"_a{i}").bitwiseXOR(F.col(f"_b{i}"))).cast("long")
            for i in range(n_words)
        ),
        F.lit(0).cast("long"),
    )
    return (
        a.join(b, on=["band", "key"])
        .filter(F.col("id_a") < F.col("id_b"))
        .withColumn("hamming", ham)
        .filter(F.col("hamming") <= max_hamming)
        .select("id_a", "id_b", "hamming")
        .distinct()
    )


# Distributed connected_components: round cap of the large-star /
# small-star loop. The loop stops at a fixpoint, which the rounds
# reach in about log2(n) + 2 rounds in practice (9 for a 1000-node
# chain with shuffled ids, 18 for a 100k-node sorted chain); the cap
# only turns a loop that would not end into a named error.
_CC_MAX_ROUNDS = 64


def _min_labels(a: list, b: list) -> tuple[list, list]:
    """Union-find over the pairs ``zip(a, b)``: returns (nodes, labels)
    for every node that occurs, each label the minimum id of the
    node's component. Union links the larger root under the smaller,
    so every root is its set's minimum."""
    parent: dict = {}

    def find(x):
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]  # path halving
            x = parent[x]
        return x

    for x, y in zip(a, b):
        rx, ry = find(x), find(y)
        if rx != ry:
            if ry < rx:
                rx, ry = ry, rx
            parent[ry] = rx
    nodes = list(parent)
    return nodes, [find(x) for x in nodes]


def _large_star(e: DataFrame) -> DataFrame:
    """Large-star: every node u links each larger neighbor to the
    minimum of u and its neighbors. Output edges (a, b) have a > b."""
    both = e.unionByName(e.select(F.col("b").alias("a"), F.col("a").alias("b")))
    m = both.groupBy("a").agg(F.least(F.col("a"), F.min("b")).alias("m"))
    return (
        both.join(m, "a")
        .where(F.col("b") > F.col("a"))
        .select(F.col("b").alias("a"), F.col("m").alias("b"))
        .distinct()
    )


def _small_star(e: DataFrame) -> DataFrame:
    """Small-star over edges with a > b: every node a links itself and
    each of its smaller neighbors to the minimum of those neighbors."""
    m = e.groupBy("a").agg(F.min("b").alias("m"))
    leaves = (
        e.join(m, "a")
        .select(F.col("b").alias("a"), F.col("m").alias("b"))
        .where(F.col("a") != F.col("b"))
    )
    return leaves.unionByName(m.select("a", F.col("m").alias("b"))).distinct()


def _star_labels(e: DataFrame) -> DataFrame:
    """(node, label) by alternating large-star and small-star rounds
    (Kiveris et al., SoCC 2014) over the pinned edges ``e`` (a > b) to
    a fixpoint. At the fixpoint every component is a star whose
    center is its minimum id, so each edge (a, b) reads "a's label is
    b"; centers carry no edge and keep their own id downstream. Each
    round is pinned, checked against the previous round by one
    full-scan action (which also materializes the pin), and the
    previous round is released."""
    for _ in range(_CC_MAX_ROUNDS):
        nxt = pin(_small_star(_large_star(e)))
        changed = (
            nxt.withColumn("_n", F.lit(True))
            .join(e.withColumn("_o", F.lit(True)), ["a", "b"], "full_outer")
            .where(F.col("_n").isNull() | F.col("_o").isNull())
            .count()
        )
        unpin(e)
        e = nxt
        if not changed:
            return e.select(F.col("a").alias("node"), F.col("b").alias("label"))
    unpin(e)
    raise RuntimeError(
        f"connected_components: no fixpoint after {_CC_MAX_ROUNDS} "
        "large-star/small-star rounds"
    )


def connected_components(
    nodes: DataFrame,
    edges: DataFrame,
    id_col: str = "id",
    src: str = "src",
    dst: str = "dst",
) -> DataFrame:
    """Connected components — the final stage of near-dup clustering
    (candidate pairs -> clusters). Returns (``id_col``, cluster_id)
    for every row of ``nodes``; cluster_id is the minimum id in the
    node's component (what min-label propagation and the
    recursive-CTE oracles compute), and nodes that touch no edge are
    their own cluster.

    The edges are normalized to (larger, smaller) pairs without
    self-loops or NULL ends, pinned and counted once:

    - At or under ``_DRIVER_FINISH_ROWS`` edges (pinning.py) they are
      collected, union-find labels them on the driver, and the labels
      come back as one broadcast Arrow frame: one count and one
      collect, whatever the graph's diameter.
    - Above it, :func:`_star_labels` runs large-star/small-star
      rounds to a fixpoint, about log2(n) rounds of a few shuffles
      each, and raises a RuntimeError naming this operator if the
      round cap is reached — it never returns unconverged labels.
    """
    spark = nodes.sparkSession
    id_type = nodes.schema[id_col].dataType
    a, b = F.col(src), F.col(dst)
    und = edges.where(a.isNotNull() & b.isNotNull() & (a != b)).select(
        F.greatest(a, b).alias("a"), F.least(a, b).alias("b")
    )
    pinned, small = collect_if_small(und)
    if small is not None:
        node, label = _min_labels(small.column("a").to_pylist(), small.column("b").to_pylist())
        schema = StructType([StructField("node", id_type), StructField("label", id_type)])
        lab = F.broadcast(driver_frame(spark, {"node": node, "label": label}, schema))
    else:
        lab = _star_labels(pinned)
    return nodes.select(F.col(id_col)).join(
        lab.withColumnRenamed("node", id_col), id_col, "left"
    ).select(
        F.col(id_col),
        F.coalesce(F.col("label").cast(id_type), F.col(id_col)).alias("cluster_id"),
    )


def _pair_restricted_words(
    df: DataFrame, pairs: DataFrame, text: str, id_col: str
) -> tuple[DataFrame, DataFrame]:
    """Candidate-restricted word sets (r12): ``pairs`` is pinned once
    (it is read three times: the id semi-filter and both verify
    joins — without the cut an expensive candidate plan, e.g. the
    LSH band join, would re-execute per read). The checkpoint is LAZY
    and the gate ``count()`` right below is what materializes it, so
    construction pays ONE job for pin+count, not an eager-checkpoint
    job followed by a count job (r12 shipped eager+count — two jobs —
    with a docstring claiming lazy; ADVICE r12 #1). Then the corpus
    is LEFT-SEMI filtered to pair-participating ids BEFORE word sets
    are built. The semi-join pushes below the projection, so only
    candidate docs pay the tokenize — at corpus scale, verifying
    ~thousands of candidates stops costing two full-corpus tokenize
    passes. Inner verify joins already restricted output to pair ids,
    so results are identical.

    The checkpointed pairs frame is RDD-backed (no stats), which
    would push the planner to sort-merge for the verify joins (r12
    after-audit: 0→4 SMJs on the incremental entries); since the
    materialization makes counting free-ish, gate an explicit
    broadcast on the actual pair count — the same decision AQE makes
    with stats, and the joins fall back to shuffles past the gate.
    Gate math (r12-VERDICT #2, byte-aware): a pair row is two longs
    ≈ 16 B framed and the derived ids frame is ≤ 2 longs per pair, so
    1M pairs keeps BOTH forced broadcasts ≈ 16 MB raw (~64 MB as a
    built hash relation) — inside the session's 64 MB autoBroadcast
    intent; the previous 4M-row gate allowed ~hundreds of MB per
    executor at the boundary."""
    pairs = pin(pairs, eager=False)
    hint = F.broadcast if pairs.count() <= 1_000_000 else (lambda d: d)
    # ids come from the unhinted pin: a hint under the Union is not a
    # join input, so Spark drops it with a warning per call
    ids = (
        pairs.select(F.col("id_a").alias(id_col))
        .unionByName(pairs.select(F.col("id_b").alias(id_col)))
        .distinct()
    )
    w = df.join(hint(ids), id_col, "leftsemi").select(
        F.col(id_col), distinct_words(text).alias("ws")
    )
    return hint(pairs), w


def _word_set_pairs(
    df: DataFrame, pairs: DataFrame, text: str, id_col: str, restrict: bool
) -> DataFrame:
    """The ONE word-set verify join behind :func:`jaccard_pairs` and
    :func:`containment_pairs`: (id_a, id_b, ws_a, inter, jaccard) per
    candidate pair whose ids both exist, with inter = |A∩B| and
    jaccard = |A∩B| / |A∪B| — NULL when both word sets are empty (the
    union is empty; DuckDB's 0.0/0.0 is NULL too, and under ANSI the
    division would raise). ``restrict`` routes through
    :func:`_pair_restricted_words`."""
    if restrict:
        pairs, w = _pair_restricted_words(df, pairs, text, id_col)
    else:
        w = df.select(F.col(id_col), distinct_words(text).alias("ws"))
    a = w.select(F.col(id_col).alias("id_a"), F.col("ws").alias("ws_a"))
    b = w.select(F.col(id_col).alias("id_b"), F.col("ws").alias("ws_b"))
    j = pairs.join(a, "id_a").join(b, "id_b")
    inter = F.size(F.array_intersect("ws_a", "ws_b"))
    union = F.size(F.array_union("ws_a", "ws_b"))
    return j.select(
        "id_a",
        "id_b",
        "ws_a",
        inter.alias("inter"),
        F.when(union > 0, inter.cast("double") / union.cast("double")).alias(
            "jaccard"
        ),
    )


def jaccard_pairs(
    df: DataFrame,
    pairs: DataFrame,
    text: str = "text",
    id_col: str = "doc_id",
    restrict: bool = True,
) -> DataFrame:
    """Verify candidate pairs with exact word-set Jaccard (NULL for a
    pair of two empty word sets). ``pairs`` has (id_a, id_b); the doc
    table is joined twice (broadcast when small).

    ``restrict`` routes through :func:`_pair_restricted_words` —
    tokenize only pair-participating docs; right when |pairs| is far
    below the corpus (LSH candidates). NOTE (ADVICE r12 #2): restrict
    executes the FULL candidate plan at construction time (one
    pin+count job) — callers whose pair set spans most of the corpus
    by construction (the anchors-vs-next-25 entries) pass False and
    keep the original one-read lazy shape, where the semi leg would
    only add stages and the construction-time materialization is an
    unbounded cost."""
    return _word_set_pairs(df, pairs, text, id_col, restrict).select(
        "id_a", "id_b", "jaccard"
    )


def containment_pairs(
    df: DataFrame,
    pairs: DataFrame,
    text: str = "text",
    id_col: str = "doc_id",
    restrict: bool = True,
) -> DataFrame:
    """Verify candidate pairs with ASYMMETRIC word-set containment
    |A∩B| / |A| (A = id_a side) alongside Jaccard. Containment is the
    subset-duplication detector Jaccard misses: a short doc quoted
    wholesale inside a long one has containment ~1.0 but Jaccard
    ~|A|/|B| — the standard reason dedup pipelines (e.g. Lee et al.
    2022 §4) report both. Exact integer-cardinality divisions,
    bit-identical cross-engine. Rows with an empty id_a word set are
    dropped (containment undefined).

    Same optional candidate-restricted tokenization as
    :func:`jaccard_pairs` (identical output; tokenize cost bounded by
    the candidate set when ``restrict`` — and same construction-time
    pin+count of the full candidate plan, see there)."""
    j = _word_set_pairs(df, pairs, text, id_col, restrict)
    return j.filter(F.size("ws_a") > 0).select(
        "id_a",
        "id_b",
        (F.col("inter").cast("double") / F.size("ws_a").cast("double")).alias(
            "containment"
        ),
        "jaccard",
    )


def line_dedup(
    df: DataFrame,
    text: str = "text",
    id_col: str = "doc_id",
    min_chars: int = 12,
) -> DataFrame:
    """C4-style line-level corpus dedup (Raffel et al. 2020 §2.2):
    any line occurring more than once across the corpus is kept only
    at its first occurrence (lowest (doc_id, pos)); every other copy
    is dropped and documents are reassembled without it. Lines whose
    trimmed length is < ``min_chars`` are exempt (always kept in
    place) so structural shorties ("", "---", list bullets) don't
    collapse across unrelated documents.

    Returns one row per input document:
    (id, n_lines, n_kept, n_dropped, text_dedup).

    Scale shape (100 TB): the keeper per distinct line is a
    hash-groupBy min — map-side combinable, so a boilerplate line
    occurring 10^8 times reduces to one partial per task before the
    shuffle (no window over the hot key). The join back on the line
    hash is a plain shuffle join (AQE skew-split applies). Document
    reassembly is a collect_list bounded by lines-per-doc. The keeper
    order key packs (doc_id, pos) into one BIGINT (valid while
    pos < 2^20 and doc_id < 2^43); with hashed 64-bit doc ids use a
    struct-min instead — same plan shape.
    """
    lines = df.select(
        F.col(id_col),
        F.posexplode(F.split(F.col(text), "\n", -1)).alias("pos", "line"),
    )
    c = lines.select(
        id_col,
        "pos",
        "line",
        (F.length(F.trim(F.col("line"))) >= min_chars).alias("dd"),
        F.md5("line").alias("h"),
        (F.col(id_col).cast("long") * F.lit(1048576).cast("long") + F.col("pos"))
        .alias("packed"),
    )
    k = c.filter(F.col("dd")).groupBy("h").agg(F.min("packed").alias("kp"))
    j = c.join(k, "h", "left")
    keep = (~F.col("dd")) | (F.col("packed") == F.col("kp"))
    return j.groupBy(id_col).agg(
        F.count(F.lit(1)).alias("n_lines"),
        F.sum(keep.cast("long")).alias("n_kept"),
        (F.count(F.lit(1)) - F.sum(keep.cast("long"))).alias("n_dropped"),
        F.concat_ws(
            "\n",
            F.transform(
                F.array_sort(
                    F.collect_list(F.when(keep, F.struct("pos", "line")))
                ),
                lambda s: s["line"],
            ),
        ).alias("text_dedup"),
    )
