"""Suffix-order operators — pure DataFrame algebra, no UDFs.

The reference corpus-dedup literature (Lee et al. 2022 §3) detects
exact duplicated substrings with a suffix array; the repo's gram-hash
operators (dup_spans / dup_span_removal) approximate that with fixed
n-grams. This module orders suffixes directly by their first ``depth``
characters (ties by position):

- ``doc_adjacent_lcp``: per-document suffix order and adjacent-suffix
  LCPs, one window sort partitioned by document — no global sort.
- ``global_adjacent_lcp``: the corpus-global order (cross-document
  repeats), range-partitioned on a packed int64 seed of the key.

Depth bound: suffixes are ordered by their first ``depth`` characters.
For repeat detection with a minimum match length L <= depth this is
exact; it is also what keeps the operators scale-sane, since each
position ships one depth-char key regardless of document length.
"""

from __future__ import annotations

import threading

from pyspark.sql import Column, DataFrame, Window, functions as F


def _lcp_capped2(ta: Column, a: Column, tb: Column, b: Column, cap: int) -> Column:
    """LCP of suffix ``a`` of ``ta`` vs suffix ``b`` of ``tb`` (both
    0-based), capped at ``cap`` — by GREEDY BINARY DESCENT: for step
    in cap's descending binary decomposition, test whether the next
    ``step`` characters match and extend the accumulated length if
    so. Exact for arbitrary inputs by right-padding the two windows
    with DISTINCT sentinels (chr(1)/chr(2), outside the text
    alphabet): equal truncated tails then mismatch at the first pad
    position instead of over-counting.

    ``cap`` must be all-ones binary (2**m - 1): the greedy descent
    through cap's binary decomposition is exact only then — cap=5
    descends [4, 1] and returns 1 for a true LCP of 3 because the
    2-step is missing."""
    if cap & (cap + 1):
        raise ValueError(f"cap must be 2**m - 1 (all-ones binary), got {cap}")
    pa = F.rpad(ta.substr(a + 1, F.lit(cap)), cap, "\x01")
    pb = F.rpad(tb.substr(b + 1, F.lit(cap)), cap, "\x02")
    steps: list[int] = []
    rem = cap
    p = 1
    while p * 2 <= cap:
        p *= 2
    while p:
        if rem >= p:
            steps.append(p)
            rem -= p
        p //= 2
    lcp: Column = F.lit(0).cast("long")
    for step in steps:
        ext = pa.substr(lcp + 1, F.lit(step)) == pb.substr(lcp + 1, F.lit(step))
        lcp = lcp + F.when(ext, F.lit(step)).otherwise(F.lit(0))
    return lcp


def _lcp_key_tree_sql(ka_sql: str, kb_sql: str, cap: int) -> str:
    """SQL text of the capped LCP of two key expressions — a BINARY
    SEARCH over prefix lengths (largest m in [0, cap] with equal
    m-prefixes of the sentinel-padded cap-windows; the equal-prefix
    predicate is monotone in m, so the search is exact for ANY cap),
    emitted as one string for one ``F.expr`` parse.

    Replaces :func:`_lcp_capped2` on the hot paths (r13, guide §1.2)
    for two measured reasons: the descent's accumulated ``lcp``
    appears twice per step, so its COLUMN tree doubles per step —
    2^steps copies of the padded-substring subtrees, ~1 s of py4j
    plan building per use and redundant evaluation wherever codegen
    fails to CSE them — while this tree is O(cap) nodes with a
    log2(cap) evaluation path and needs no all-ones cap. Same values:
    both compute the LCP of rpad(substr(ka,1,cap), chr(1)) vs
    rpad(substr(kb,1,cap), chr(2)) — distinct sentinels keep
    truncated-equal tails from over-counting, as before. (One edge
    intentionally differs: a NULL key gives NULL from the descent but
    0 from this tree's ELSE spine — both callers filter the
    first-row-of-partition NULL-lag pairs out before the value is
    consumed.) Unicode escapes, not hex: Spark SQL parses '\\x01' as
    the three characters x01 (measured), '\\u0001' as the control
    byte."""
    pa = f"rpad(substr({ka_sql}, 1, {cap}), {cap}, '\\u0001')"
    pb = f"rpad(substr({kb_sql}, 1, {cap}), {cap}, '\\u0002')"

    def rec(lo: int, hi: int) -> str:
        if lo == hi:
            return str(lo)
        mid = (lo + hi + 1) // 2
        return (
            f"(CASE WHEN substr({pa}, 1, {mid}) = substr({pb}, 1, {mid}) "
            f"THEN {rec(mid, hi)} ELSE {rec(lo, mid - 1)} END)"
        )

    return f"CAST({rec(0, cap)} AS BIGINT)"


def _range_id_tree_sql(k0_sql: str, bounds: list[int]) -> str:
    """SQL text of the binary-search range id (count of ``bounds``
    strictly below the packed seed key — equal keys always land in
    the same logical partition, so ranges stay contiguous): one
    ``F.expr`` parse instead of a 2·|bounds|-node py4j when-tree."""

    def rec(lo: int, hi: int) -> str:
        if lo == hi:
            return str(lo)
        mid = (lo + hi) // 2
        return (
            f"(CASE WHEN {k0_sql} > {bounds[mid]}L THEN {rec(mid + 1, hi)} "
            f"ELSE {rec(lo, mid)} END)"
        )

    return rec(0, len(bounds))


def _packed_seed_key(key: Column) -> Column:
    """The first 7 UTF-8 BYTES of ``key`` (NUL right-padded) packed
    into ONE non-negative int64 — an order-CONSISTENT coarsening of
    the string: pack(a) < pack(b) implies a < b under UTF-8 byte
    order (which is exactly how both Spark's UTF8String and DuckDB
    compare VARCHARs), and pack ties fall through to the full string
    comparison. 7 bytes = 56 bits keeps the sign bit clear; padding
    with 0x00 (the minimal byte) preserves prefix order.

    Purpose: the corpus-global suffix sort resolves almost every
    comparison on this single long instead of a depth-char string —
    both in the range partitioner and the per-partition sorts."""
    b7 = F.substring(F.encode(F.rpad(key, 7, "\x00"), "UTF-8"), 1, 7)
    return F.conv(F.hex(b7), 16, 10).cast("long")


def suffix_window_keys(
    docs: DataFrame, id_col: str, text_col: str, depth: int
) -> DataFrame:
    """(doc_id, pos, _key, _k0): the ``depth``-char window starting
    at every 0-based character position, plus its packed int64 seed.

    The hot path BYTE-slices: Spark's char-indexed substr must scan
    from byte 0 to locate the start offset — O(pos) per call, O(n²)
    per document (measured: 29 s of pure offset scanning over 22M
    positions regardless of window length) — so ASCII documents
    (octet_length == length, byte positions == char positions) take
    encode once + O(depth) binary substr per position. Non-ASCII
    documents keep the exact char-indexed path; the union preserves
    per-position semantics for any input."""
    d = docs.select(
        F.col(id_col).alias("doc_id"),
        F.col(text_col).alias("_text"),
        F.length(text_col).alias("n"),
        F.octet_length(text_col).alias("nb"),
    )
    posed = F.explode(
        F.when(F.col("n") > 0, F.sequence(F.lit(0), F.col("n") - 1)).otherwise(
            F.array().cast("array<int>")
        )
    ).alias("pos")
    fast = (
        d.filter(F.col("n") == F.col("nb"))
        .withColumn("_bin", F.encode("_text", "UTF-8"))
        .select("doc_id", "n", "_bin", posed)
        .select(
            "doc_id",
            "n",
            F.col("pos").cast("long").alias("pos"),
            F.decode(
                F.col("_bin").substr(F.col("pos") + 1, F.lit(depth)), "UTF-8"
            ).alias("_key"),
            # packed seed straight off the bytes (hex-string right-pad
            # '0' == 0x00 byte pad) so a _k0-only consumer — the range
            # bounds pass — prunes the whole key build
            F.conv(
                F.rpad(
                    F.hex(F.col("_bin").substr(F.col("pos") + 1, F.lit(7))),
                    14,
                    "0",
                ),
                16,
                10,
            )
            .cast("long")
            .alias("_k0"),
        )
    )
    slow = (
        d.filter(F.col("n") != F.col("nb"))
        .select("doc_id", "n", "_text", posed)
        .select(
            "doc_id",
            "n",
            F.col("pos").cast("long").alias("pos"),
            F.col("_text").substr(F.col("pos") + 1, F.lit(depth)).alias("_key"),
        )
        .withColumn("_k0", _packed_seed_key(F.col("_key")))
    )
    return fast.unionByName(slow)


def doc_adjacent_lcp(
    docs: DataFrame, id_col: str, text_col: str, depth: int = 64
) -> DataFrame:
    """Per-document adjacent-suffix LCPs by ONE direct window sort:
    (doc_id, n, pos, prev_pos, lcp), lcp capped at depth-1. Within
    each document positions are ordered by (first-``depth``-chars
    window, pos) — literally the depth-bounded suffix order — and
    each row is paired with its predecessor. The longest internally
    repeated substring of a document is max(lcp) — the suffix-array
    identity the gram-hash operators approximate.

    Shape: one explode + ONE window pass, with the LCP computed
    from the depth-char keys themselves (the global_adjacent_lcp
    trick: LCP of two suffixes capped at depth-1 IS the LCP of their
    depth-char windows capped at depth-1 — sentinel padding keeps
    truncated tails from over-counting), so the text never re-joins
    and never shuffles. Keys are built byte-sliced via
    :func:`suffix_window_keys` (O(depth) per position, not O(pos)),
    and the sort resolves almost every comparison on the packed int64
    seed ``_k0`` before touching the string key.

    Equal-truncated keys (suffixes of the same doc have distinct
    lengths) mismatch at the first sentinel pad, so the key-LCP
    equals the text-LCP capped at depth-1."""
    p = suffix_window_keys(docs, id_col, text_col, depth)
    w = Window.partitionBy("doc_id").orderBy("_k0", "_key", "pos")
    return (
        p.withColumn("prev_pos", F.lag("pos").over(w))
        .withColumn("_pk", F.lag("_key").over(w))
        .filter(F.col("prev_pos").isNotNull())
        .select(
            "doc_id",
            "n",
            "pos",
            "prev_pos",
            F.expr(_lcp_key_tree_sql("`_key`", "`_pk`", depth - 1)).alias("lcp"),
        )
    )


# previous global_adjacent_lcp invocations' cached sorted passes,
# keyed by the owning SparkContext's applicationId — see the
# unpersist note inside the function. A stale handle whose session
# has been stopped is DISCARDED, not unpersisted (calling .unpersist
# on a stopped context raises and would break the next invocation —
# ADVICE r8); the lock makes concurrent callers swap, not race.
_PERSIST_LOCK = threading.Lock()
_PERSISTED_PASSES: list[tuple[str, DataFrame]] = []


def _swap_persisted_pass(app_id: str, new_df: DataFrame) -> None:
    """Release every previously-stashed cached pass that belongs to
    the SAME live application, drop handles from dead sessions, then
    stash ``new_df`` — bounding the operator's storage footprint at
    one cached pass per session lifetime."""
    with _PERSIST_LOCK:
        while _PERSISTED_PASSES:
            old_app, old_df = _PERSISTED_PASSES.pop()
            if old_app != app_id:
                continue  # different/dead session: just drop the ref
            try:
                old_df.unpersist(blocking=False)
            except Exception:
                pass  # context stopped between check and call
        _PERSISTED_PASSES.append((app_id, new_df))


def global_adjacent_lcp(
    docs: DataFrame,
    id_col: str,
    text_col: str,
    depth: int = 64,
    num_partitions: int | None = None,
) -> DataFrame:
    """CORPUS-GLOBAL suffix adjacency: every position of every
    document, ordered by its depth-bounded suffix across the WHOLE
    corpus (key = first ``depth`` chars, ties by (doc, pos)), paired
    with its predecessor — including pairs that cross documents,
    which is what exact-substring dedup needs (Lee et al. 2022 §3).

    Shape (the distributed_prefix_sum pattern, operators/scale.py):
    a cheap approxQuantile pass over the packed int64 seed key picks
    range bounds; a binary when-tree assigns each position its range
    id; then ONE window pass partitioned by that id (never a single-
    partition window) yields the adjacent pairs, their LCPs, and
    each range's first/last rows in the same sort; the ≤ #ranges
    boundary pairs are stitched via a driver collect bounded by the
    range count, like the prefix-sum's totals.

    Each position ships its ``depth``-char key ONCE, through the one
    window shuffle; the sorted pass is cached AFTER the key is
    dropped, so only narrow (long) columns persist. The document
    text itself never shuffles and never re-joins.

    The capped LCP is computed FROM THE KEYS THEMSELVES — the LCP of
    two suffixes capped at depth-1 is exactly the LCP of their
    depth-char keys capped at depth-1 — so the document texts never
    re-join onto the pairs (the previous form joined both texts onto
    every adjacent pair; at 22M pairs that was two extra shuffle
    joins plus per-pair full-text substrs).

    LCP alphabet assumption: the cross-document LCP pads with the
    sentinel bytes chr(1)/chr(2); documents whose text contains
    those control bytes can over/under-count the capped LCP.

    Returns (doc_id, pos, prev_doc, prev_pos, lcp), lcp capped at
    depth-1, one row per globally adjacent pair."""
    spark = docs.sparkSession
    n = num_partitions or 2 * spark.sparkContext.defaultParallelism
    p = suffix_window_keys(docs, id_col, text_col, depth)
    # Range bounds from ONE cheap pass: approxQuantile over the
    # pruned _k0-only projection (the depth-char key build is never
    # evaluated for it). repartitionByRange would instead re-evaluate
    # the FULL key build twice — its sampling runs on the child's
    # complete output rows (measured at 10x replicas: the double
    # evaluation was half the operator's wall time).
    # r13: the quantile pass runs over a 5% DOC SAMPLE (seeded, so
    # one bounds job per run) — bounds only decide the range
    # PARTITIONING, never the output: adjacency within a range is the
    # window's, adjacency across ranges is the boundary stitch, so
    # ANY contiguous bounds give identical pairs (guide §1.2 — don't
    # compute precision you throw away). Tiny corpora can sample to
    # nothing; fall back to the full pass there (it's cheap exactly
    # then).
    qs = [i / n for i in range(1, n)]
    sampled = suffix_window_keys(docs.sample(0.05, seed=7), id_col, text_col, depth)
    bounds = sorted(
        {int(b) for b in sampled.select("_k0").approxQuantile("_k0", qs, 0.001)}
    )
    if not bounds:
        bounds = sorted(
            {int(b) for b in p.select("_k0").approxQuantile("_k0", qs, 0.001)}
        )

    order = ["_k0", "_key", "doc_id", "pos"]
    w = Window.partitionBy("_pid").orderBy(*order)
    cap = depth - 1
    # first/last-row detection shares the ONE window spec the lags
    # use (lead == NULL marks the partition's last row), so the whole
    # pass is a single window exec — a count-over-partition column
    # would force a second full buffering pass
    is_end = (F.col("_first") == 1) | F.col("_last")
    d = (
        p.withColumn("_pid", F.expr(_range_id_tree_sql("`_k0`", bounds)))
        .withColumn("prev_doc", F.lag("doc_id").over(w))
        .withColumn("prev_pos", F.lag("pos").over(w))
        .withColumn("_pk", F.lag("_key").over(w))
        .withColumn("_first", F.row_number().over(w))
        .withColumn("_last", F.lead("doc_id").over(w).isNull())
        .withColumn("lcp", F.expr(_lcp_key_tree_sql("`_key`", "`_pk`", cap)))
        # keys survive the checkpoint only on partition-end rows (for
        # the boundary stitch) — everywhere else they drop to NULL so
        # the materialized pass stays narrow
        .withColumn("_bkey", F.when(is_end, F.col("_key")))
        .select(
            "_pid", "doc_id", "pos", "prev_doc", "prev_pos",
            "_first", "_last", "lcp", "_bkey",
        )
        # persist, not localCheckpoint: consumed twice (boundary
        # collect + the returned pairs), lineage stays intact so an
        # eviction recomputes instead of failing, and the narrow
        # cache is droppable — checkpoint blocks accumulated across
        # catalog runs until the JVM GC'd the RDD handles (measured:
        # back-to-back 10x runs degraded 87 -> 170 s)
        .persist()
    )
    # the cache must outlive this function (the returned pairs plan
    # reads it lazily), so it can't be unpersisted here — instead
    # each invocation releases the PREVIOUS one's pass, bounding the
    # operator's storage footprint at one cached pass regardless of
    # how many catalog queries run in the session (ADVICE r7);
    # session-keyed + exception-safe per ADVICE r8
    _swap_persisted_pass(d.sparkSession.sparkContext.applicationId, d)
    inner = d.filter(F.col("prev_doc").isNotNull()).select(
        "doc_id", "pos", "prev_doc", "prev_pos", "lcp"
    )
    # boundary stitch: first/last row of each non-empty partition
    # (<= 2 * n rows — bounded by partition count, not data); the
    # cross-boundary LCPs are computed driver-side on the collected
    # depth-char keys (<= n-1 string pairs)
    ends = (
        d.filter(is_end)
        .select("_pid", "_first", "_last", "doc_id", "pos", "_bkey")
        .collect()
    )
    firsts = {r["_pid"]: r for r in ends if r["_first"] == 1}
    # a single-row partition is both its own first and last
    lasts = {r["_pid"]: r for r in ends if r["_last"]}
    pids = sorted(firsts)

    def _lcp_py(a: str, b: str) -> int:
        m = 0
        for x, y in zip(a[:cap], b[:cap]):
            if x != y:
                break
            m += 1
        return m

    boundary = [
        (
            firsts[q]["doc_id"],
            firsts[q]["pos"],
            lasts[pp]["doc_id"],
            lasts[pp]["pos"],
            _lcp_py(firsts[q]["_bkey"], lasts[pp]["_bkey"]),
        )
        for pp, q in zip(pids, pids[1:])
    ]
    pairs = inner
    if boundary:
        from pyspark.sql.types import LongType, StructField, StructType

        id_type = docs.schema[id_col].dataType
        bdf = spark.createDataFrame(
            boundary,
            StructType(
                [
                    StructField("doc_id", id_type),
                    StructField("pos", LongType()),
                    StructField("prev_doc", id_type),
                    StructField("prev_pos", LongType()),
                    StructField("lcp", LongType()),
                ]
            ),
        )
        pairs = inner.unionByName(bdf)
    return pairs

