"""Dedup family: exact and fingerprint dedup, MinHash-LSH / SimHash /
Jaccard / containment near-dup pairs and clusters, winnowing,
exact-substring spans and their removal (gram islands and the strict
keep-one form), line- and paragraph-level dedup, incremental and
cross-corpus dedup, benchmark decontamination and dedup reports.

Near-dup candidates come from banded signatures (MinHash, SimHash,
joined on (band, key) with a hot-bucket guard) or from blocking keys,
and are then verified exactly (word-set Jaccard, Hamming distance, edit
distance or text equality). MinHash/SimHash bits are built from md5 hex
digests, the cross-engine hash primitive, so oracle signatures match
bit for bit.

Keep-one removal: for every duplicated L-gram the keeper occurrence
(minimum (doc, pos)) marks [pos, pos+L) as protected and every other
occurrence marks it for removal; a character is removed iff covered by
a removal span and by no protection span, counted by an endpoint line
sweep per document. The exact per-character form survives in
``keepone_marks_and_removed`` for the invariant tests."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window, functions as F

from wq_data_pipeline_spark.operators import dedup as DD
from wq_data_pipeline_spark.operators import text as TX
from wq_data_pipeline_spark.operators.text import (
    gram_hash,
    shingles_from_tokens,
    tokens,
)
from wq_data_pipeline_spark.plans.corpus import SQL_TOKS_EXPR, SQL_WORDS, _docs_parallel
from wq_data_pipeline_spark.sources.testdata import load_table


def q_exact_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact + fingerprint dedup in one per-doc driver row: md5-of-
    text canonical flag (exact) alongside the order-insensitive
    word-set fingerprint group (near-dup first stage) — each as a
    min/count window over its own hash partitioning (two skinny
    shuffles, no joins)."""
    from pyspark.sql import Window

    d = load_table(spark, sf_dir, "documents").select(
        "doc_id",
        F.md5(F.col("text")).alias("_h"),
        TX.doc_fingerprint("text").alias("fp"),
    )
    wh = Window.partitionBy("_h")
    wf = Window.partitionBy("fp")
    return d.select(
        "doc_id",
        F.min("doc_id").over(wh).alias("canonical_id"),
        (F.col("doc_id") != F.min("doc_id").over(wh)).alias("is_duplicate"),
        F.min("doc_id").over(wf).alias("fp_canonical_id"),
        F.count(F.lit(1)).over(wf).alias("fp_group_size"),
        (
            (F.count(F.lit(1)).over(wf) >= 2)
            & (F.col("doc_id") != F.min("doc_id").over(wf))
        ).alias("is_fp_duplicate"),
    )


SQL_EXACT_DEDUP = f"""{SQL_WORDS},
h AS (
  SELECT doc_id, md5(text) AS h,
         md5(array_to_string(list_sort(list_distinct(toks)), ' ')) AS fp
  FROM w
)
SELECT doc_id,
       min(doc_id) OVER (PARTITION BY h) AS canonical_id,
       doc_id <> min(doc_id) OVER (PARTITION BY h) AS is_duplicate,
       min(doc_id) OVER (PARTITION BY fp) AS fp_canonical_id,
       count(*) OVER (PARTITION BY fp) AS fp_group_size,
       count(*) OVER (PARTITION BY fp) >= 2
         AND doc_id <> min(doc_id) OVER (PARTITION BY fp) AS is_fp_duplicate
FROM h"""


def q_fingerprint_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup clusters by order-insensitive word-set fingerprint
    (doc_fingerprint = md5 of sorted distinct words)."""
    d = load_table(spark, sf_dir, "documents")
    return DD.fingerprint_groups(d, "text", "doc_id", min_size=2)


SQL_FP_DEDUP = f"""{SQL_WORDS},
fp AS (
  SELECT doc_id, md5(array_to_string(list_sort(list_distinct(toks)), ' ')) AS fp
  FROM w
)
SELECT fp, count(*) AS n_docs, min(doc_id) AS canonical_id
FROM fp GROUP BY fp HAVING count(*) >= 2"""


# 3-gram shingles in both dialects
def _shingles_sql(n: int = 3) -> str:
    return (
        "list_transform(generate_series(1, greatest(len(toks) - 2, 0)), "
        "i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2])"
    )


# SQL mirror of dedup.shingle_hash + the affine permutations: ONE md5
# per shingle, k integer multiply-add-mods. '0x'-cast and Spark conv()
# agree on the 8-hex-digit value; all constants are int literals.
_MH_HASH_SQL = "('0x' || substr(md5(s), 1, 8))::BIGINT"


def _minhash_min_sql(i: int) -> str:
    a, b = DD.minhash_coeffs(max(i + 1, 1))[i]
    return (
        f"list_min(list_transform(sh, s -> ({a} * {_MH_HASH_SQL} + {b}) % {DD._MH_P}))"
    )


def q_minhash_signatures(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash signatures (k=4 demo; operator default is 32) over word
    3-gram shingles: one 32-bit md5-derived hash per shingle, affine
    permutations per seed — engine-portable min-hash."""
    d = _docs_parallel(spark, sf_dir)
    return DD.minhash_signatures_table(d, "text", "doc_id", num_hashes=4)


SQL_MINHASH = f"""{SQL_WORDS},
sh AS (SELECT doc_id, {_shingles_sql()} AS sh FROM w)
SELECT doc_id,
       {_minhash_min_sql(0)} AS mh0,
       {_minhash_min_sql(1)} AS mh1,
       {_minhash_min_sql(2)} AS mh2,
       {_minhash_min_sql(3)} AS mh3
FROM sh"""


# operator defaults: 32 hashes, 4 rows/band -> 8 bands (recall ~0.985
# at J=0.8; the r1 catalog used k=4 which is recall-thin), hot-bucket
# guard at 100 docs per (band, key) — constants shared with the
# operator so the oracle can never silently desynchronize
_MH_K = 32
_MH_R = 4
_MH_MAXDF = 100


def _minhash_sig_sql(num_hashes: int, rows_per_band: int) -> str:
    """sig CTE: one md5 band key per consecutive group of minhashes —
    the SQL mirror of dedup.lsh_bands over minhash_signatures_table
    (concat_ws('|') of BIGINT minhashes -> md5)."""
    bands = []
    for b0 in range(0, num_hashes, rows_per_band):
        group = " || '|' || ".join(
            f"CAST({_minhash_min_sql(i)} AS VARCHAR)"
            for i in range(b0, min(b0 + rows_per_band, num_hashes))
        )
        bands.append(f"md5({group}) AS band{b0 // rows_per_band}")
    return ",\n         ".join(bands)


def _minhash_pairs_sql(
    num_hashes: int, rows_per_band: int, max_df: int = _MH_MAXDF
) -> str:
    """Unpivoted band rows + the max_df hot-bucket guard + one
    self-join — the SQL mirror of dedup.minhash_lsh_candidates."""
    n_bands = (num_hashes + rows_per_band - 1) // rows_per_band
    unpivot = "\n  UNION ALL\n  ".join(
        f"SELECT doc_id, {b} AS band, band{b} AS key FROM sig"
        for b in range(n_bands)
    )
    return (
        f"sh AS (SELECT doc_id, {_shingles_sql()} AS sh FROM w),\n"
        f"sig AS (\n  SELECT doc_id,\n         {_minhash_sig_sql(num_hashes, rows_per_band)}\n  FROM sh\n),\n"
        f"bands AS (\n  {unpivot}\n),\n"
        f"guard AS (SELECT band, key FROM bands GROUP BY band, key HAVING count(*) <= {max_df}),\n"
        f"b2 AS (SELECT bands.doc_id, bands.band, bands.key FROM bands JOIN guard USING (band, key)),\n"
        f"pairs AS (\n  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b\n"
        f"  FROM b2 a JOIN b2 b USING (band, key) WHERE a.doc_id < b.doc_id\n)"
    )


def q_minhash_lsh_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash-LSH candidate pairs at the operator defaults (k=32,
    4 rows/band -> 8 bands) VERIFIED with exact word-set Jaccard —
    the real near-dup pipeline shape (banding turns all-pairs into
    per-bucket joins, then only the candidates pay the exact
    comparison; one driver row checks both ops). Jaccard is an exact
    integer-cardinality division, bit-identical cross-engine."""
    d = _docs_parallel(spark, sf_dir)
    cand = DD.minhash_lsh_candidates(
        d, "text", "doc_id", num_hashes=_MH_K, rows_per_band=_MH_R, max_df=_MH_MAXDF
    )
    return DD.jaccard_pairs(d, cand, "text", "doc_id")


SQL_MINHASH_LSH = f"""{SQL_WORDS},
{_minhash_pairs_sql(_MH_K, _MH_R)},
ws AS (SELECT doc_id, list_distinct(toks) AS ws FROM w)
SELECT id_a, id_b,
       CAST(len(list_intersect(a.ws, b.ws)) AS DOUBLE)
       / CAST(len(list_distinct(list_concat(a.ws, b.ws))) AS DOUBLE) AS jaccard
FROM pairs JOIN ws a ON pairs.id_a = a.doc_id JOIN ws b ON pairs.id_b = b.doc_id"""


def q_dedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup clustering end-to-end: MinHash-LSH candidate pairs ->
    connected components (iterative min-label propagation) -> cluster
    assignments. The oracle replays the pairs with a recursive CTE."""
    d = _docs_parallel(spark, sf_dir)
    pairs = DD.minhash_lsh_candidates(
        d, "text", "doc_id", num_hashes=_MH_K, rows_per_band=_MH_R, max_df=_MH_MAXDF
    )
    nodes = d.select("doc_id")
    comps = DD.connected_components(nodes, pairs, "doc_id", "id_a", "id_b")
    return comps.withColumn("is_canonical", F.col("doc_id") == F.col("cluster_id"))


SQL_DEDUP_CLUSTERS = f"""{SQL_WORDS},
{_minhash_pairs_sql(_MH_K, _MH_R)},
edges AS (
  SELECT id_a AS a, id_b AS b FROM pairs UNION SELECT id_b, id_a FROM pairs
),
reach AS (
  WITH RECURSIVE r(node, root) AS (
    SELECT doc_id, doc_id FROM documents
    UNION
    SELECT e.b, r.root FROM r JOIN edges e ON e.a = r.node
  )
  SELECT node, min(root) AS cluster_id FROM r GROUP BY node
)
SELECT node AS doc_id, cluster_id, node = cluster_id AS is_canonical FROM reach"""


def q_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """16-bit SimHash over distinct words (md5 hex-digit parity votes).
    Two-select form: the per-word digest profiles fold into vote
    counts ONCE in the inner select, and the outer select only
    assembles bits — one md5 per word instead of one per word per bit
    (the packed-profile rewrite, operators/dedup.py)."""
    d = _docs_parallel(spark, sf_dir)
    pre = d.select(
        "doc_id",
        DD.simhash_vote_counts(DD.word_bit_profiles("text"), 16).alias("_cnt"),
        F.size(DD.distinct_words("text")).alias("_nw"),
    )
    return pre.select(
        "doc_id", DD.simhash_from_counts("_cnt", "_nw", 16).alias("simhash")
    )


def _simhash_sql_bits(bits: int = 16, salt: str = "") -> str:
    w = f"w || '{salt}'" if salt else "w"
    terms = []
    for j in range(bits):
        terms.append(
            f"(CASE WHEN 2 * list_sum(list_transform(ws, w -> "
            f"CASE WHEN substr(md5({w}), {j + 1}, 1) IN ('1','3','5','7','9','b','d','f') THEN 1 ELSE 0 END)) "
            f"- len(ws) > 0 THEN {1 << j} ELSE 0 END)"
        )
    return " + ".join(terms)


SQL_SIMHASH = f"""{SQL_WORDS},
d AS (SELECT doc_id, list_distinct(toks) AS ws FROM w)
SELECT doc_id, {_simhash_sql_bits(16)} AS simhash FROM d"""


def q_jaccard_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """n-gram (word-set) Jaccard over a bounded candidate set:
    anchors doc_id%5==0 vs the next 25 ids; report pairs >= 0.8."""
    d = load_table(spark, sf_dir, "documents")
    ids = d.select("doc_id")
    # equi-join formulation of the bounded range: explode the offset
    # set so the candidate join is a hash join, not a nested loop
    # (a 'id_b BETWEEN id_a+1 AND id_a+25' predicate plans as
    # BroadcastNestedLoopJoin, which dies at scale)
    a = (
        ids.filter(F.col("doc_id") % 5 == 0)
        .select(
            F.col("doc_id").alias("id_a"),
            F.explode(F.sequence(F.lit(1), F.lit(25))).alias("_off"),
        )
        .select("id_a", (F.col("id_a") + F.col("_off")).alias("id_b"))
    )
    b = ids.select(F.col("doc_id").alias("id_b"))
    pairs = a.join(b, on="id_b")  # keeps only existing ids
    j = DD.jaccard_pairs(d, pairs, "text", "doc_id", restrict=False)
    return j.filter(F.col("jaccard") >= 0.8)


SQL_JACCARD = f"""{SQL_WORDS},
ws AS (SELECT doc_id, list_distinct(toks) AS ws FROM w)
SELECT a.doc_id AS id_a, b.doc_id AS id_b,
       CAST(len(list_intersect(a.ws, b.ws)) AS DOUBLE)
       / CAST(len(list_distinct(list_concat(a.ws, b.ws))) AS DOUBLE) AS jaccard
FROM ws a JOIN ws b
  ON a.doc_id % 5 = 0 AND b.doc_id > a.doc_id AND b.doc_id <= a.doc_id + 25
WHERE CAST(len(list_intersect(a.ws, b.ws)) AS DOUBLE)
      / CAST(len(list_distinct(list_concat(a.ws, b.ws))) AS DOUBLE) >= 0.8"""


# Winnowing parameters — the ONE source of truth for both the Spark
# call sites and the DuckDB oracle below (the r2 oracle hard-coded the
# k=3/w=4 offsets as raw literals, so changing either side silently
# desynchronized them).
_WIN_K = 3
_WIN_W = 4


def q_winnow_fingerprints(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winnowing (MOSS) document fingerprints: rolling k-gram hashes,
    min per w-window, distinct selected set — emitted as a per-doc
    count + digest of the sorted fingerprint list."""
    d = load_table(spark, sf_dir, "documents")
    fp = TX.winnow_fingerprints(d, "text", "doc_id", k=_WIN_K, w=_WIN_W)
    return fp.select(
        "doc_id",
        "n_grams",
        "n_fingerprints",
        F.md5(
            F.concat_ws(",", F.transform("fingerprints", lambda x: x.cast("string")))
        ).alias("fp_digest"),
    )


def _winnow_fps_sql(k: int = _WIN_K, w: int = _WIN_W) -> str:
    """Oracle CTE chain for winnowing fingerprint sets, built from the
    same k/w constants the Spark call sites pass (DuckDB lists are
    1-based; slice bounds are inclusive)."""
    gram_concat = " || ' ' || ".join(f"toks[i + {j}]" for j in range(k))
    return f"""{SQL_WORDS},
g AS (
  SELECT doc_id,
         list_transform(generate_series(1, greatest(len(toks) - {k - 1}, 0)),
                        i -> {gram_concat}) AS grams
  FROM w
),
h AS (
  SELECT doc_id, len(grams) AS n_grams,
         list_transform(grams, x -> ('0x' || substr(md5(x), 1, 15))::BIGINT) AS hs
  FROM g
),
m AS (
  SELECT doc_id, n_grams,
         CASE WHEN len(hs) > 0
              THEN list_sort(list_distinct(list_transform(
                     generate_series(1, greatest(len(hs) - {w}, 0) + 1),
                     i -> list_min(hs[i : i + {w - 1}]))))
              ELSE CAST([] AS BIGINT[]) END AS fps
  FROM h
)"""


SQL_WINNOW_FPS = _winnow_fps_sql()

SQL_WINNOW = f"""{SQL_WINNOW_FPS}
SELECT doc_id, n_grams, len(fps) AS n_fingerprints,
       md5(array_to_string(fps, ',')) AS fp_digest
FROM m"""


def q_winnow_matches(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-doc overlap scan on winnowing fingerprints (inverted
    index self-join with a max-df stop-gram guard)."""
    d = load_table(spark, sf_dir, "documents")
    return TX.winnow_matches(
        d, "text", "doc_id", k=_WIN_K, w=_WIN_W, min_shared=3, max_df=50
    ).select("doc_a", "doc_b", F.col("n_shared").cast("long").alias("n_shared"))


SQL_WINNOW_MATCHES = f"""{SQL_WINNOW_FPS},
fpx AS (SELECT doc_id, unnest(fps) AS fp FROM m),
keep AS (SELECT fp FROM fpx GROUP BY fp HAVING count(*) <= 50),
f2 AS (SELECT fpx.doc_id, fpx.fp FROM fpx JOIN keep USING (fp))
SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, CAST(count(*) AS BIGINT) AS n_shared
FROM f2 a JOIN f2 b USING (fp)
WHERE a.doc_id < b.doc_id
GROUP BY 1, 2
HAVING count(*) >= 3"""


def q_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-source decontamination check (train/eval leakage): for
    each non-src0 source, how many docs share an order-insensitive
    content fingerprint with the src0 'training' corpus. The semi
    join touches only fingerprints (one md5 per doc) — the cheap
    first-stage leak scan a training pipeline runs before a split."""
    d = load_table(spark, sf_dir, "documents")
    fp = d.select("source", TX.doc_fingerprint("text").alias("fp"))
    train_fp = fp.filter(F.col("source") == "src0").select("fp").distinct()
    ev = fp.filter(F.col("source") != "src0")
    hits = (
        ev.join(train_fp, "fp", "left_semi")
        .groupBy("source")
        .agg(F.count(F.lit(1)).alias("n_contaminated"))
    )
    totals = ev.groupBy("source").agg(F.count(F.lit(1)).alias("n_docs"))
    return totals.join(hits, "source", "left").select(
        "source",
        "n_docs",
        F.coalesce("n_contaminated", F.lit(0)).cast("long").alias("n_contaminated"),
    )


SQL_DECONTAMINATE = f"""{SQL_WORDS},
fp AS (
  SELECT source, md5(array_to_string(list_sort(list_distinct(toks)), ' ')) AS fp
  FROM w
),
train AS (SELECT DISTINCT fp FROM fp WHERE source = 'src0'),
ev AS (SELECT * FROM fp WHERE source <> 'src0')
SELECT ev.source,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(CASE WHEN ev.fp IN (SELECT fp FROM train) THEN 1 ELSE 0 END) AS BIGINT) AS n_contaminated
FROM ev GROUP BY ev.source"""


_LD_MIN_CHARS = 12


def q_line_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C4-style line-level corpus dedup: per-document kept/dropped
    line counts plus an md5 of the reassembled text (hash-exact
    evidence the reconstruction itself matches, without shipping the
    full corpus through the compare)."""
    from wq_data_pipeline_spark.operators.dedup import line_dedup

    d = load_table(spark, sf_dir, "documents")
    out = line_dedup(d, text="text", id_col="doc_id", min_chars=_LD_MIN_CHARS)
    return out.select(
        "doc_id",
        "n_lines",
        "n_kept",
        "n_dropped",
        F.md5("text_dedup").alias("text_md5"),
    )


SQL_LINE_DEDUP = f"""
WITH l AS (
  SELECT doc_id, string_split(text, chr(10)) AS ls FROM documents
),
e AS (
  SELECT doc_id, unnest(generate_series(1, len(ls))) AS p, ls FROM l
),
x AS (
  SELECT doc_id, p - 1 AS pos, ls[p] AS line FROM e
),
c AS (
  SELECT doc_id, pos, line,
         len(trim(line)) >= {_LD_MIN_CHARS} AS dd,
         md5(line) AS h,
         doc_id * 1048576 + pos AS packed
  FROM x
),
k AS (
  SELECT h, min(packed) AS kp FROM c WHERE dd GROUP BY h
),
j AS (
  SELECT c.*, (NOT dd) OR (packed = kp) AS keep
  FROM c LEFT JOIN k USING (h)
)
SELECT doc_id,
       count(*) AS n_lines,
       CAST(sum(CASE WHEN keep THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
       CAST(sum(CASE WHEN keep THEN 0 ELSE 1 END) AS BIGINT) AS n_dropped,
       md5(coalesce(string_agg(line, chr(10) ORDER BY pos) FILTER (WHERE keep), '')) AS text_md5
FROM j GROUP BY doc_id"""


# ----------------------------------------------------------------- dup spans

_SPAN_N = 8  # token n-gram width; two docs sharing >= 8 consecutive tokens hit


def q_dup_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact-substring duplicate spans: positions whose word 8-gram
    occurs in >= 2 documents, merged into maximal per-doc token spans.
    Gram sharing counted with an exact distinct (swap to HLL++
    approx_count_distinct at 100 TB — documented trade, the join shape
    is unchanged). Covered intervals [pos, pos+7] merge when the next
    duplicated position starts within 8 tokens of the previous."""
    d = _docs_parallel(spark, sf_dir)  # md5-heavy explode: spread the 1-file scan
    g = d.select(
        "doc_id",
        F.posexplode(shingles_from_tokens(tokens("text"), _SPAN_N)).alias("pos", "g"),
    ).select("doc_id", "pos", gram_hash(F.col("g")).alias("h"))
    # ONE gram build (r13, guide §2.4 / VERDICT r12 #4): the old
    # groupBy(h)+join-back read `g` twice, so the tokenize+md5 explode
    # executed twice (plan: 2 Generates). Two-level instead: (h, doc)
    # partial agg (map-side combinable — positions of one gram in one
    # doc collect locally), then nd = count of DOC rows per gram via a
    # window over h (countDistinct(doc) ≡ count(*) at the (h, doc)
    # grain), and the positions re-explode. Same rows, same nd.
    g2 = g.groupBy("h", "doc_id").agg(F.collect_list("pos").alias("_ps"))
    wh = Window.partitionBy("h")
    hits = (
        g2.withColumn("nd", F.count(F.lit(1)).over(wh))
        .filter(F.col("nd") >= 2)
        .select("doc_id", F.explode("_ps").alias("pos"), "nd")
    )
    w = Window.partitionBy("doc_id").orderBy("pos")
    brk = F.when(F.col("pos") - F.lag("pos").over(w) > _SPAN_N, 1).otherwise(0)
    isl = hits.withColumn("island", F.sum(brk).over(w))
    return (
        isl.groupBy("doc_id", "island")
        .agg(
            F.min("pos").alias("span_start"),
            (F.max("pos") + F.lit(_SPAN_N - 1)).alias("span_end"),
            (F.max("pos") - F.min("pos") + F.lit(_SPAN_N)).alias("span_len"),
            F.count(F.lit(1)).alias("n_dup_grams"),
            F.max("nd").alias("max_docs_sharing"),
        )
        .drop("island")
    )


SQL_DUP_SPANS = f"""
WITH w AS (
  SELECT doc_id,
         list_filter(string_split_regex(lower(text), '\\s+'), x -> x <> '') AS toks
  FROM documents
),
g AS (
  SELECT doc_id, CAST(i - 1 AS INT) AS pos,
         CAST(('0x' || substr(md5(array_to_string(list_slice(toks, i, i + {_SPAN_N - 1}), ' ')), 1, 15)) AS BIGINT) AS h
  FROM (SELECT doc_id, toks, unnest(generate_series(1, len(toks) - {_SPAN_N - 1})) AS i
        FROM w WHERE len(toks) >= {_SPAN_N})
),
dup AS (
  SELECT h, count(DISTINCT doc_id) AS nd FROM g GROUP BY h
  HAVING count(DISTINCT doc_id) >= 2
),
hits AS (SELECT doc_id, pos, nd FROM g JOIN dup USING (h)),
brk AS (
  SELECT doc_id, pos, nd,
         CASE WHEN pos - lag(pos) OVER (PARTITION BY doc_id ORDER BY pos) > {_SPAN_N}
              THEN 1 ELSE 0 END AS b
  FROM hits
),
isl AS (
  SELECT doc_id, pos, nd,
         sum(b) OVER (PARTITION BY doc_id ORDER BY pos
                      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS island
  FROM brk
)
SELECT doc_id, min(pos) AS span_start,
       max(pos) + {_SPAN_N - 1} AS span_end,
       max(pos) - min(pos) + {_SPAN_N} AS span_len,
       count(*) AS n_dup_grams,
       max(nd) AS max_docs_sharing
FROM isl GROUP BY doc_id, island"""


def q_dup_span_removal(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus rewrite for exact-substring dedup: every duplicated span
    is removed from all docs EXCEPT the lowest doc_id among the docs
    sharing the span's FIRST 8-gram (a deterministic approximation of
    the "keep one occurrence" rule of Lee et al. 2022). Emits per-doc
    token counts and an md5 of the reassembled cleaned text —
    hash-exact evidence the reconstruction matches without shipping
    the corpus through the compare (same trick as line_dedup).

    Keeper-rule caveat (documented deviation from strict keep-one):
    the keeper is chosen PER MERGED ISLAND by its first gram. When two
    distinct duplicated runs A and B sit directly ADJACENT (or
    overlapping) in one doc — their dup-gram positions within
    ``_SPAN_N`` of each other; one unique token between runs already
    separates the islands — they merge into one island whose keeper
    is A's, so that doc removes its copy of B even if it would have
    been B's keeper, and B can end up removed from every doc. Exact
    keep-one over arbitrarily overlapping/chained runs requires
    suffix-array maximal-match semantics (Lee et al. §3); this
    gram-island approximation errs toward over-removal, which is the
    safe direction for training-data dedup. For a STRICT keep-one
    guarantee (at the cost of under-removing chained runs) use the
    ``dup_span_removal_keepone`` companion, which
    groups occurrences by island-text md5 and keeps the minimal one
    per group. The DuckDB oracle
    implements the identical rule;
    ``test_dup_span_removal_merged_island_over_removes`` plants the
    chained-island case pinning this behavior.

    Scale shape: the detect chain is dup_spans'; the rewrite adds one
    per-doc equi-join (doc_id, range residual) between the token
    stream and that doc's few removed spans, then one hash agg with an
    in-group sort bounded by document length."""
    d = _docs_parallel(spark, sf_dir)  # md5-heavy explode: spread the 1-file scan
    toks = d.select("doc_id", F.posexplode(tokens("text")).alias("tpos", "tok"))
    g = d.select(
        "doc_id",
        F.posexplode(shingles_from_tokens(tokens("text"), _SPAN_N)).alias("pos", "g"),
    ).select("doc_id", "pos", gram_hash(F.col("g")).alias("h"))
    # ONE gram build via the (h, doc) two-level agg + h-window — the
    # same rewrite as q_dup_spans above (nd ≡ countDistinct(doc) at
    # the (h, doc) grain; keeper ≡ min(doc) over the gram's rows)
    g2 = g.groupBy("h", "doc_id").agg(F.collect_list("pos").alias("_ps"))
    wh = Window.partitionBy("h")
    hits = (
        g2.withColumn("nd", F.count(F.lit(1)).over(wh))
        .withColumn("keeper_doc", F.min("doc_id").over(wh))
        .filter(F.col("nd") >= 2)
        .select("doc_id", F.explode("_ps").alias("pos"), "keeper_doc")
    )
    w = Window.partitionBy("doc_id").orderBy("pos")
    brk = F.when(F.col("pos") - F.lag("pos").over(w) > _SPAN_N, 1).otherwise(0)
    isl = hits.withColumn("island", F.sum(brk).over(w))
    spans = (
        isl.groupBy("doc_id", "island")
        .agg(
            F.min("pos").alias("s0"),
            (F.max("pos") + F.lit(_SPAN_N - 1)).alias("s1"),
            F.min(F.struct("pos", "keeper_doc")).alias("fk"),
        )
        .select("doc_id", "s0", "s1", F.col("fk.keeper_doc").alias("keeper_doc"))
    )
    removed = spans.filter(F.col("doc_id") != F.col("keeper_doc")).select(
        F.col("doc_id").alias("r_doc"), "s0", "s1"
    )
    j = toks.join(
        removed,
        (toks.doc_id == removed.r_doc)
        & toks.tpos.between(removed.s0, removed.s1),
        "left",
    )
    keep = F.col("s0").isNull()
    kept_struct = F.when(keep, F.struct("tpos", "tok"))
    return j.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_tokens"),
        F.sum((~keep).cast("long")).alias("n_removed"),
        F.md5(
            F.concat_ws(
                " ",
                F.transform(
                    F.array_sort(F.collect_list(kept_struct)), lambda x: x.tok
                ),
            )
        ).alias("text_md5"),
    )


SQL_DUP_SPAN_REMOVAL = f"""
WITH w AS (
  SELECT doc_id,
         list_filter(string_split_regex(lower(text), '\\s+'), x -> x <> '') AS toks
  FROM documents
),
t AS (
  SELECT doc_id, CAST(i - 1 AS INT) AS tpos, toks[i] AS tok
  FROM (SELECT doc_id, toks, unnest(generate_series(1, len(toks))) AS i
        FROM w WHERE len(toks) >= 1)
),
g AS (
  SELECT doc_id, CAST(i - 1 AS INT) AS pos,
         CAST(('0x' || substr(md5(array_to_string(list_slice(toks, i, i + {_SPAN_N - 1}), ' ')), 1, 15)) AS BIGINT) AS h
  FROM (SELECT doc_id, toks, unnest(generate_series(1, len(toks) - {_SPAN_N - 1})) AS i
        FROM w WHERE len(toks) >= {_SPAN_N})
),
dup AS (
  SELECT h, count(DISTINCT doc_id) AS nd, min(doc_id) AS keeper_doc
  FROM g GROUP BY h HAVING count(DISTINCT doc_id) >= 2
),
hits AS (SELECT g.doc_id, g.pos, dup.keeper_doc FROM g JOIN dup USING (h)),
brk AS (
  SELECT doc_id, pos, keeper_doc,
         CASE WHEN pos - lag(pos) OVER (PARTITION BY doc_id ORDER BY pos) > {_SPAN_N}
              THEN 1 ELSE 0 END AS b
  FROM hits
),
isl AS (
  SELECT doc_id, pos, keeper_doc,
         sum(b) OVER (PARTITION BY doc_id ORDER BY pos
                      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS island
  FROM brk
),
spans AS (
  SELECT doc_id, island, min(pos) AS s0, max(pos) + {_SPAN_N - 1} AS s1,
         arg_min(keeper_doc, pos) AS keeper_doc
  FROM isl GROUP BY doc_id, island
),
rm AS (SELECT doc_id AS r_doc, s0, s1 FROM spans WHERE doc_id <> keeper_doc),
m AS (
  SELECT t.doc_id, t.tpos, t.tok, (rm.s0 IS NULL) AS keep
  FROM t LEFT JOIN rm ON t.doc_id = rm.r_doc AND t.tpos BETWEEN rm.s0 AND rm.s1
)
SELECT doc_id, count(*) AS n_tokens,
       CAST(sum(CASE WHEN keep THEN 0 ELSE 1 END) AS BIGINT) AS n_removed,
       md5(coalesce(string_agg(tok, ' ' ORDER BY tpos) FILTER (WHERE keep), '')) AS text_md5
FROM m GROUP BY doc_id"""


# ------------------------------------------- corpus dedup / vocab reports


def q_dedup_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus duplication report over word-set fingerprint groups
    (``text.doc_fingerprint`` — the near-dup key fingerprint_dedup
    clusters on): one row per observed group SIZE with how many
    groups/docs it covers, plus each size's share of the corpus — the
    summary a dedup run prints before anyone commits to deleting
    data. Two small hash aggs over one scan; the fingerprint group agg
    is the same shuffle fingerprint_dedup runs, so at 100 TB the
    report rides the dedup pass for free."""
    from wq_data_pipeline_spark.operators.text import doc_fingerprint

    d = _docs_parallel(spark, sf_dir)
    groups = d.groupBy(doc_fingerprint("text").alias("h")).agg(
        F.count(F.lit(1)).alias("sz")
    )
    total = groups.agg(F.sum("sz").alias("n_docs_total"))
    return (
        groups.groupBy("sz")
        .agg(F.count(F.lit(1)).alias("n_groups"))
        .crossJoin(F.broadcast(total))
        .select(
            F.col("sz").alias("group_size"),
            "n_groups",
            (F.col("sz") * F.col("n_groups")).alias("n_docs"),
            F.round(
                (F.col("sz") * F.col("n_groups")).cast("double")
                / F.col("n_docs_total"),
                6,
            ).alias("corpus_share"),
        )
    )


SQL_DEDUP_REPORT = """
WITH f AS (
  SELECT md5(array_to_string(list_sort(list_distinct(
           list_filter(string_split_regex(lower(text), '\\s+'), x -> x <> ''))), ' ')) AS h
  FROM documents
),
g AS (SELECT h, count(*) AS sz FROM f GROUP BY h),
t AS (SELECT CAST(sum(sz) AS BIGINT) AS n_docs_total FROM g)
SELECT sz AS group_size, count(*) AS n_groups,
       CAST(sz * count(*) AS BIGINT) AS n_docs,
       round(CAST(sz * count(*) AS DOUBLE) / (SELECT n_docs_total FROM t), 6) AS corpus_share
FROM g GROUP BY sz"""


# --- contamination_overlap --------------------------------------------------

_CO_N = 5  # word n-gram width for the overlap metric
_CO_TAU_MICRO = 500_000  # flag a doc at >= 50% benchmark-gram overlap


def q_contamination_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document n-gram overlap fraction against a benchmark set —
    the graded decontamination metric (GPT-3 appendix C / PaLM-style
    n-gram collision rate), upgrading the binary fingerprint
    ``decontaminate`` scan: for every non-src0 document, the share of
    its DISTINCT word 5-grams that also occur in the src0 'benchmark'
    corpus, plus a >= 50% contamination flag. Gram hashing follows
    the dup_spans convention (15-hex md5 -> BIGINT, engine-portable);
    the overlap fraction is integer floor-division, no float boundary.

    Scale shape: one explode -> per-doc distinct gram agg, pinned
    once (benchmark and eval branches both read it — without the pin
    the md5-heavy explode subtree runs twice); the hit check is a
    hash join on the gram hash. In production the benchmark grams
    come from a separate, small eval-suite corpus and that side
    becomes a broadcast; here both sides derive from the one test
    table. Documents with < 5 tokens have no grams and drop out."""
    from wq_data_pipeline_spark.operators.text import (
        gram_hash,
        shingles_from_tokens,
    )

    d = _docs_parallel(spark, sf_dir)
    g = (
        # token array materialized first (one tokenize per doc, r12)
        d.select("doc_id", "source", TX.tokens("text").alias("_toks"))
        .select(
            "doc_id",
            "source",
            F.explode(shingles_from_tokens(F.col("_toks"), _CO_N)).alias("g"),
        )
        .select("doc_id", "source", gram_hash(F.col("g")).alias("h"))
        .distinct()
        .localCheckpoint()
    )
    bench = (
        g.filter(F.col("source") == "src0")
        .select("h")
        .distinct()
        .withColumn("_hit", F.lit(1))
    )
    ev = g.filter(F.col("source") != "src0")
    per_doc = (
        ev.join(bench, "h", "left")
        .groupBy("doc_id", "source")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_grams"),
            F.sum(F.coalesce("_hit", F.lit(0))).cast("long").alias("n_hit"),
        )
    )
    overlap = F.floor(
        (F.col("n_hit") * F.lit(1_000_000)).cast("double")
        / F.col("n_grams").cast("double")
    ).cast("long")
    return per_doc.select(
        "doc_id",
        "source",
        "n_grams",
        "n_hit",
        overlap.alias("overlap_micro"),
        (overlap >= F.lit(_CO_TAU_MICRO)).alias("contaminated"),
    )


SQL_CONTAMINATION_OVERLAP = f"""{SQL_WORDS},
g AS (
  SELECT DISTINCT doc_id, source,
         ('0x' || substr(md5(array_to_string(list_slice(toks, i, i + {_CO_N - 1}), ' ')), 1, 15))::BIGINT AS h
  FROM (SELECT doc_id, source, toks, unnest(generate_series(1, len(toks) - {_CO_N - 1})) AS i
        FROM w)
),
bench AS (SELECT DISTINCT h FROM g WHERE source = 'src0'),
ev AS (SELECT doc_id, source, h FROM g WHERE source <> 'src0'),
m AS (
  SELECT ev.doc_id, ev.source, CASE WHEN b.h IS NOT NULL THEN 1 ELSE 0 END AS hit
  FROM ev LEFT JOIN bench b USING (h)
),
p AS (
  SELECT doc_id, source, CAST(count(*) AS BIGINT) AS n_grams,
         CAST(sum(hit) AS BIGINT) AS n_hit
  FROM m GROUP BY 1, 2
)
SELECT doc_id, source, n_grams, n_hit,
       (n_hit * 1000000) // n_grams AS overlap_micro,
       (n_hit * 1000000) // n_grams >= {_CO_TAU_MICRO} AS contaminated
FROM p"""


# --- cross_dedup ------------------------------------------------------------

_CD_TAU = 0.8  # verified-Jaccard near-dup threshold


def q_cross_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental-crawl dedup: check every NEW document (source !=
    src0) for near-duplicates in the BASE corpus (src0 — the existing
    training set) via MinHash-LSH candidates + exact word-set Jaccard
    verification, at the operator-default constants the
    minhash_lsh_pairs entry pins (k=32, 4 rows/band, max_df guard).
    One row per new doc: (n_base_matches, best_jaccard, is_dup at
    Jaccard >= 0.8). This is the dedupe-the-increment operation a
    crawl pipeline runs before merging a new snapshot — distinct
    from ``decontaminate`` (whole-doc fingerprint semi-join) and
    from within-corpus clustering (``dedup_clusters``).

    Scale shape: identical to minhash_lsh_pairs (banded self-join on
    (band, key) with the hot-bucket guard); the cross-corpus
    restriction is a filter on the verified pairs, and the per-new-doc
    rollup is one hash agg + a broadcast-sized source lookup."""
    from wq_data_pipeline_spark.operators import dedup as DD

    d = _docs_parallel(spark, sf_dir)
    cand = DD.minhash_lsh_candidates(
        d, "text", "doc_id", num_hashes=_MH_K, rows_per_band=_MH_R, max_df=_MH_MAXDF
    )
    jac = DD.jaccard_pairs(d, cand, "text", "doc_id")
    src = d.select("doc_id", "source")
    sa = src.select(F.col("doc_id").alias("id_a"), F.col("source").alias("src_a"))
    sb = src.select(F.col("doc_id").alias("id_b"), F.col("source").alias("src_b"))
    pairs = jac.join(F.broadcast(sa), "id_a").join(F.broadcast(sb), "id_b")
    # exactly one side in the base corpus; emit the NEW side
    cross = pairs.filter(
        (F.col("src_a") == "src0") != (F.col("src_b") == "src0")
    ).select(
        F.when(F.col("src_a") == "src0", F.col("id_b"))
        .otherwise(F.col("id_a"))
        .alias("doc_id"),
        "jaccard",
    )
    hits = cross.groupBy("doc_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_base_matches"),
        F.max("jaccard").alias("best_jaccard"),
    )
    return (
        src.filter(F.col("source") != "src0")
        .join(hits, "doc_id", "left")
        .select(
            "doc_id",
            "source",
            F.coalesce("n_base_matches", F.lit(0).cast("long")).alias(
                "n_base_matches"
            ),
            "best_jaccard",
            F.coalesce(F.col("best_jaccard") >= _CD_TAU, F.lit(False)).alias(
                "is_dup"
            ),
        )
    )


def _cross_dedup_sql() -> str:

    return f"""{SQL_WORDS},
{_minhash_pairs_sql(_MH_K, _MH_R)},
ws AS (SELECT doc_id, list_distinct(toks) AS ws FROM w),
jac AS (
  SELECT id_a, id_b,
         CAST(len(list_intersect(a.ws, b.ws)) AS DOUBLE)
         / CAST(len(list_distinct(list_concat(a.ws, b.ws))) AS DOUBLE) AS jaccard
  FROM pairs JOIN ws a ON pairs.id_a = a.doc_id JOIN ws b ON pairs.id_b = b.doc_id
),
srcs AS (SELECT doc_id, source FROM documents),
cross_hits AS (
  SELECT CASE WHEN sa.source = 'src0' THEN j.id_b ELSE j.id_a END AS doc_id,
         j.jaccard
  FROM jac j
  JOIN srcs sa ON j.id_a = sa.doc_id
  JOIN srcs sb ON j.id_b = sb.doc_id
  WHERE (sa.source = 'src0') <> (sb.source = 'src0')
),
agg AS (
  SELECT doc_id, CAST(count(*) AS BIGINT) AS n_base_matches,
         max(jaccard) AS best_jaccard
  FROM cross_hits GROUP BY doc_id
)
SELECT s.doc_id, s.source,
       coalesce(a.n_base_matches, 0) AS n_base_matches,
       a.best_jaccard,
       coalesce(a.best_jaccard >= {_CD_TAU}, FALSE) AS is_dup
FROM srcs s LEFT JOIN agg a USING (doc_id)
WHERE s.source <> 'src0'"""


SQL_CROSS_DEDUP = _cross_dedup_sql()


def q_dup_span_removal_keepone(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact-substring dedup with a STRICT keep-one guarantee — the
    complement of ``dup_span_removal``, whose
    per-island first-gram keeper can destroy every copy of a run when
    islands merge differently across docs (the pinned over-removal
    case).

    Rule here: occurrences are grouped by the md5 of the island's
    ACTUAL TOKEN TEXT; within each group the (doc_id, span_start)-
    minimal occurrence is the keeper and only the others are removed.
    Guarantee: the keeper's island IS that exact text, so one copy of
    every removed string always survives — removal can never orphan a
    span. The trade (documented dual of the old entry): when chained
    runs merge into one island in some doc, its island text differs
    from the standalone runs', the groups are singletons, and NOTHING
    is removed there — conservative under-removal instead of
    destructive over-removal. Identical spans (the overwhelmingly
    common case) dedup exactly as before. True maximal-match keep-one
    still requires suffix-array semantics (Lee et al. 2022 §3).

    Scale shape: dup_spans' detect chain (gram hash agg + island
    windows), plus ONE doc_id equi-join of the span list against the
    token arrays to md5 each island's text, a row_number window over
    text groups (tiny partitions), and the same per-doc rewrite join.
    """
    from wq_data_pipeline_spark.operators.text import (
        gram_hash,
        shingles_from_tokens,
        tokens,
    )

    d = _docs_parallel(spark, sf_dir)
    toks = d.select("doc_id", F.posexplode(tokens("text")).alias("tpos", "tok"))
    # token array materialized first: an inline tokens("text") inside
    # the shingle transform re-tokenizes per gram position (r12)
    g = d.select("doc_id", tokens("text").alias("_toks")).select(
        "doc_id",
        F.posexplode(shingles_from_tokens(F.col("_toks"), _SPAN_N)).alias(
            "pos", "g"
        ),
    ).select("doc_id", "pos", gram_hash(F.col("g")).alias("h"))
    # ONE gram build via the (h, doc) two-level agg + h-window — the
    # same r13 rewrite as q_dup_spans (nd ≡ countDistinct(doc) at the
    # (h, doc) grain); the old groupBy+join-back executed the
    # tokenize+shingle explode twice
    g2 = g.groupBy("h", "doc_id").agg(F.collect_list("pos").alias("_ps"))
    hits = (
        g2.withColumn("nd", F.count(F.lit(1)).over(Window.partitionBy("h")))
        .filter(F.col("nd") >= 2)
        .select("doc_id", F.explode("_ps").alias("pos"))
    )
    w = Window.partitionBy("doc_id").orderBy("pos")
    brk = F.when(F.col("pos") - F.lag("pos").over(w) > _SPAN_N, 1).otherwise(0)
    isl = hits.withColumn("island", F.sum(brk).over(w))
    spans = isl.groupBy("doc_id", "island").agg(
        F.min("pos").alias("s0"),
        (F.max("pos") + F.lit(_SPAN_N - 1)).alias("s1"),
    )
    ta = d.select("doc_id", tokens("text").alias("toks"))
    keyed = spans.join(ta, "doc_id").select(
        "doc_id",
        "s0",
        "s1",
        F.md5(
            F.concat_ws(
                " ",
                F.slice(
                    F.col("toks"),
                    F.col("s0") + 1,
                    F.col("s1") - F.col("s0") + 1,
                ),
            )
        ).alias("tkey"),
    )
    wk = Window.partitionBy("tkey").orderBy("doc_id", "s0")
    removed = (
        keyed.withColumn("occ", F.row_number().over(wk))
        .filter(F.col("occ") >= 2)
        .select(F.col("doc_id").alias("r_doc"), "s0", "s1")
    )
    j = toks.join(
        removed,
        (toks.doc_id == removed.r_doc) & toks.tpos.between(removed.s0, removed.s1),
        "left",
    )
    keep = F.col("s0").isNull()
    kept_struct = F.when(keep, F.struct("tpos", "tok"))
    return j.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_tokens"),
        F.sum((~keep).cast("long")).alias("n_removed"),
        F.md5(
            F.concat_ws(
                " ",
                F.transform(
                    F.array_sort(F.collect_list(kept_struct)), lambda x: x.tok
                ),
            )
        ).alias("text_md5"),
    )


SQL_DUP_SPAN_REMOVAL_KEEPONE = f"""
WITH w AS (
  SELECT doc_id,
         list_filter(string_split_regex(lower(text), '\\s+'), x -> x <> '') AS toks
  FROM documents
),
t AS (
  SELECT doc_id, CAST(i - 1 AS INT) AS tpos, toks[i] AS tok
  FROM (SELECT doc_id, toks, unnest(generate_series(1, len(toks))) AS i
        FROM w WHERE len(toks) >= 1)
),
g AS (
  SELECT doc_id, CAST(i - 1 AS INT) AS pos,
         CAST(('0x' || substr(md5(array_to_string(list_slice(toks, i, i + {_SPAN_N - 1}), ' ')), 1, 15)) AS BIGINT) AS h
  FROM (SELECT doc_id, toks, unnest(generate_series(1, len(toks) - {_SPAN_N - 1})) AS i
        FROM w WHERE len(toks) >= {_SPAN_N})
),
dup AS (
  SELECT h FROM g GROUP BY h HAVING count(DISTINCT doc_id) >= 2
),
hits AS (SELECT g.doc_id, g.pos FROM g JOIN dup USING (h)),
brk AS (
  SELECT doc_id, pos,
         CASE WHEN pos - lag(pos) OVER (PARTITION BY doc_id ORDER BY pos) > {_SPAN_N}
              THEN 1 ELSE 0 END AS b
  FROM hits
),
isl AS (
  SELECT doc_id, pos,
         sum(b) OVER (PARTITION BY doc_id ORDER BY pos
                      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS island
  FROM brk
),
spans AS (
  SELECT doc_id, min(pos) AS s0, max(pos) + {_SPAN_N - 1} AS s1
  FROM isl GROUP BY doc_id, island
),
keyed AS (
  SELECT s.doc_id, s.s0, s.s1,
         md5(array_to_string(list_slice(w.toks, s.s0 + 1, s.s1 + 1), ' ')) AS tkey
  FROM spans s JOIN w ON s.doc_id = w.doc_id
),
rm AS (
  SELECT doc_id AS r_doc, s0, s1
  FROM (SELECT doc_id, s0, s1,
               row_number() OVER (PARTITION BY tkey ORDER BY doc_id, s0) AS occ
        FROM keyed)
  WHERE occ >= 2
),
m AS (
  SELECT t.doc_id, t.tpos, t.tok, (rm.s0 IS NULL) AS keep
  FROM t LEFT JOIN rm ON t.doc_id = rm.r_doc AND t.tpos BETWEEN rm.s0 AND rm.s1
)
SELECT doc_id, count(*) AS n_tokens,
       CAST(sum(CASE WHEN keep THEN 0 ELSE 1 END) AS BIGINT) AS n_removed,
       md5(coalesce(string_agg(tok, ' ' ORDER BY tpos) FILTER (WHERE keep), '')) AS text_md5
FROM m GROUP BY doc_id"""


# --------------------------------------------------------------------------
# blocked Levenshtein fuzzy join
# --------------------------------------------------------------------------

_FJ_PREFIX = 40
_FJ_BUCKET = 50
_FJ_MAXDIST = 14
_FJ_MAXBLOCK = 100


def q_fuzzy_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-duplicate document pairs by edit distance on the leading
    {_FJ_PREFIX} chars, found WITHOUT the all-pairs join: candidates
    are generated only within (lang, length-bucket) blocks. The
    blocking is a HEURISTIC, mirrored exactly by the oracle: pairs
    straddling a bucket boundary are not candidates (same trade as
    LSH banding), and length closeness is only a necessary condition
    for edit closeness within a bucket.

    Scale: per-block work is |block|^2, and with a length histogram
    concentrated around one size the block population grows linearly
    with the corpus — so, exactly like the MinHash hot-bucket guard
    (dedup.py max_df) and the triangle-count bucket cap, blocks over
    {_FJ_MAXBLOCK} docs are EXCLUDED (deterministic, mirrored in the
    oracle; measured unbounded: 14.5 s -> 124 s at 1x -> 3x replicas,
    a pure pair quadratic). Production precondition: exact-dedup
    upstream so a block is not one document repeated. The
    Levenshtein evaluation is JVM codegen, not a UDF."""
    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id",
        "lang",
        (F.col("n_chars") / _FJ_BUCKET).cast("long").alias("b"),
        F.substring("text", 1, _FJ_PREFIX).alias("p"),
    )
    from pyspark.sql import Window

    docs = (
        docs.withColumn(
            "_bn", F.count(F.lit(1)).over(Window.partitionBy("lang", "b"))
        )
        .filter(F.col("_bn") <= _FJ_MAXBLOCK)
        .drop("_bn")
    )
    x = docs.select(
        F.col("doc_id").alias("a"),
        "lang",
        "b",
        F.col("p").alias("pa"),
    )
    y = docs.select(
        F.col("doc_id").alias("bdoc"),
        F.col("lang").alias("lang2"),
        F.col("b").alias("b2"),
        F.col("p").alias("pb"),
    )
    # threshold form (Spark 3.5+): banded DP, O(prefix × maxdist) per
    # pair instead of O(prefix²), returning -1 past the bound — the
    # kept rows and their dist values are identical because the entry
    # only emits dist <= maxdist (measured 2x on the pair stage; the
    # block join is unchanged)
    pairs = x.join(
        y,
        (x["lang"] == y["lang2"]) & (x["b"] == y["b2"]) & (x["a"] < y["bdoc"]),
    ).withColumn("dist", F.levenshtein("pa", "pb", _FJ_MAXDIST))
    return (
        pairs.filter((F.col("dist") >= 0) & (F.col("dist") <= _FJ_MAXDIST))
        .select("a", F.col("bdoc").alias("b_doc"), "dist")
        .orderBy("a", "b_doc")
    )


SQL_FUZZY_JOIN = f"""
WITH d0 AS (
  SELECT doc_id, lang, n_chars // {_FJ_BUCKET} AS b,
         substr(text, 1, {_FJ_PREFIX}) AS p
  FROM documents
),
sized AS (
  SELECT *, count(*) OVER (PARTITION BY lang, b) AS _bn FROM d0
),
d AS (SELECT * FROM sized WHERE _bn <= {_FJ_MAXBLOCK})
SELECT x.doc_id AS a, y.doc_id AS b_doc, levenshtein(x.p, y.p) AS dist
FROM d x JOIN d y
  ON x.lang = y.lang AND x.b = y.b AND x.doc_id < y.doc_id
WHERE levenshtein(x.p, y.p) <= {_FJ_MAXDIST}
ORDER BY 1, 2"""


_KP_L = 20
# composite corpus-order key: doc_id * 2^24 + pos (pos < 2^24 always
# at our doc sizes; doc_id stays < 2^39 even with replica offsets)
_KP_POSBITS = 1 << 24


def _positions(docs: DataFrame) -> DataFrame:
    """One row per character offset: (doc_id, n, x, text)."""
    d = docs.select(
        F.col("doc_id"), F.col("text"), F.length("text").alias("n")
    )
    # guarded: sequence(0, -1) on an empty text would infer step -1
    # and emit phantom positions [0, -1] (operators/text.py pattern)
    return d.select(
        "doc_id",
        "n",
        F.explode(
            F.when(
                F.col("n") > 0, F.sequence(F.lit(0), F.col("n") - 1)
            ).otherwise(F.array().cast("array<int>"))
        ).alias("x"),
        "text",
    ).withColumn("x", F.col("x").cast("long"))


def _grams(docs: DataFrame, L: int) -> DataFrame:
    """(doc_id, s, g): the L-char gram at every 0-based offset.

    BYTE-slices ASCII documents (octet_length == length, so byte
    positions == char positions): encode once, then O(L) binary
    substr per offset — Spark's char-indexed substr must scan from
    byte 0 to locate the start, O(pos) per call and O(n²) per
    document (the suffix_window_keys lesson, operators/suffix.py:
    measured 29 s of pure offset scanning over 22M positions). The
    gram stage is built TWICE per keepone run (group side + probe
    side of keepone_marked), so the quadratic scan dominated the
    entry's wall (r11 bench: 14.4 s, the catalog's slowest row).
    Non-ASCII documents keep the exact char-indexed path."""
    d = docs.select(
        F.col("doc_id"),
        F.col("text"),
        F.length("text").alias("n"),
        F.octet_length("text").alias("nb"),
    )
    # offsets 0..n-L directly (== the old explode-all + x+L<=n filter)
    posed = F.explode(
        F.when(
            F.col("n") >= L, F.sequence(F.lit(0), F.col("n") - L)
        ).otherwise(F.array().cast("array<int>"))
    ).alias("s")
    fast = (
        d.filter(F.col("n") == F.col("nb"))
        .withColumn("_bin", F.encode("text", "UTF-8"))
        .select("doc_id", "_bin", posed)
        .select(
            "doc_id",
            F.col("s").cast("long").alias("s"),
            F.decode(
                F.col("_bin").substr(F.col("s") + 1, F.lit(L)), "UTF-8"
            ).alias("g"),
        )
    )
    slow = (
        d.filter(F.col("n") != F.col("nb"))
        .select("doc_id", "text", posed)
        .select(
            "doc_id",
            F.col("s").cast("long").alias("s"),
            F.col("text").substr(F.col("s") + 1, F.lit(L)).alias("g"),
        )
    )
    return fast.unionByName(slow)


def keepone_marked(docs: DataFrame, L: int = _KP_L) -> DataFrame:
    """(doc_id, s, is_keeper) per duplicated-gram occurrence: every
    L-gram occurring >= 2 times in the corpus, keeper = minimum
    (doc, pos) in corpus order.

    Window form (r12): group count and keeper key are plain
    count/min — computable as window aggregates over the SAME
    partitioning the old groupBy+join shuffled on — so the gram
    stream (the entry's dominant cost: byte-substr explode + one
    shuffle of L-char strings per corpus position) is built and
    shuffled ONCE instead of feeding both the group side and the
    probe side of a join. Per-window state is the occurrence count of
    one gram — exactly the join's output size for that gram, so no
    new hot-key exposure."""
    from pyspark.sql import Window

    grams = _grams(docs, L)
    wg = Window.partitionBy("g")
    key = F.col("doc_id") * _KP_POSBITS + F.col("s")
    marked = (
        grams.withColumn("_cnt", F.count(F.lit(1)).over(wg))
        .withColumn("_kkey", F.min(key).over(wg))
        .filter(F.col("_cnt") >= 2)
        .select("doc_id", "s", (key == F.col("_kkey")).alias("is_keeper"))
    )
    # pinned: marked feeds the sweep events (twice: +1/-1) AND the
    # per-doc occurrence agg; without it the gram explode + window
    # re-execute per consumer (the dual-subtree rule)
    return marked.localCheckpoint(eager=True)


def keepone_marks_and_removed(
    docs: DataFrame, L: int = _KP_L
) -> tuple[DataFrame, DataFrame]:
    """The exact PER-CHARACTER form, kept for the keep-one invariant
    and sweep-parity tests: (marked, removed) where removed =
    (doc_id, x) per erased character, resolved by the binned
    char × span interval join. Production counting goes through
    keepone_removed_counts (the endpoint sweep) — same result,
    span-density cost instead of corpus-size cost."""
    pos = _positions(docs)
    marked = keepone_marked(docs, L)
    spans = marked.withColumn(
        "bin",
        F.explode(
            F.array(
                (F.col("s") / L).cast("long"),
                ((F.col("s") + L - 1) / L).cast("long"),
            )
        ),
    ).dropDuplicates(["doc_id", "s", "is_keeper", "bin"])
    chars = pos.select(
        "doc_id", "n", "x", (F.col("x") / L).cast("long").alias("bin")
    )
    # ONE binned interval join resolves both coverages; a char is
    # removed iff some non-keeper span covers it and no keeper span
    # does (two boolean aggs over the joined rows)
    sp = spans.select(F.col("doc_id").alias("sdoc"), "s", "bin", "is_keeper")
    cov = (
        chars.join(
            sp,
            (chars["doc_id"] == sp["sdoc"])
            & (chars["bin"] == sp["bin"])
            & (chars["x"] >= sp["s"])
            & (chars["x"] < sp["s"] + L),
        )
        .groupBy("doc_id", "x")
        .agg(
            F.max(~F.col("is_keeper")).alias("any_rm"),
            F.max(F.col("is_keeper")).alias("any_kp"),
        )
    )
    removed = cov.filter(F.col("any_rm") & ~F.col("any_kp")).select("doc_id", "x")
    return marked, removed


def keepone_removed_counts(marked: DataFrame, L: int = _KP_L) -> DataFrame:
    """Interval-sweep count of removed characters per document (the
    r8-VERDICT #4 optimization): a char is removed iff covered by a
    non-keeper span and by NO keeper span, so |removed| per doc is a
    classic line sweep over span ENDPOINTS — +1/−1 events at s and
    s+L per occurrence, cumulative rm/kp counts ordered by position,
    summing segment lengths where rm > 0 and kp = 0.

    Cost: 4 event rows per duplicated-gram OCCURRENCE and one
    per-doc window sort — span-density-bound. The char-explode form
    it replaces ((doc,char) × span binned join + a corpus-sized
    groupBy) is corpus-size-bound: every character becomes a join
    probe even in documents with no duplicates at all. Measured at
    sf0.1: 12.6 s → see BASELINE.md r9 row. Parity with the exact
    per-char form is pinned by test_keepone.py.
    """
    rm = F.when(~F.col("is_keeper"), F.col("_d")).otherwise(F.lit(0))
    kp = F.when(F.col("is_keeper"), F.col("_d")).otherwise(F.lit(0))
    events = (
        marked.select(
            "doc_id", "is_keeper", F.col("s").alias("p"), F.lit(1).alias("_d")
        )
        .unionByName(
            marked.select(
                "doc_id",
                "is_keeper",
                (F.col("s") + L).alias("p"),
                F.lit(-1).alias("_d"),
            )
        )
        .groupBy("doc_id", "p")
        .agg(F.sum(rm).alias("d_rm"), F.sum(kp).alias("d_kp"))
    )
    w = Window.partitionBy("doc_id").orderBy("p")
    seg = events.select(
        "doc_id",
        "p",
        F.sum("d_rm").over(w).alias("rm_cnt"),
        F.sum("d_kp").over(w).alias("kp_cnt"),
        (F.lead("p").over(w) - F.col("p")).alias("seg_len"),
    )
    return (
        seg.filter(
            (F.col("rm_cnt") > 0)
            & (F.col("kp_cnt") == 0)
            & F.col("seg_len").isNotNull()
        )
        .groupBy("doc_id")
        .agg(F.sum("seg_len").alias("chars_removed"))
    )


def keepone_removal_report(docs: DataFrame, L: int = _KP_L) -> DataFrame:
    """Per-document report of keeper-protected removal: duplicate /
    keeper occurrence counts and exactly how many characters the
    protected removal erases (counted by the interval sweep — see
    keepone_removed_counts; the per-char form survives in
    keepone_marks_and_removed for the invariant/parity tests)."""
    d = docs.select(F.col("doc_id"), F.length("text").alias("n"))
    marked = keepone_marked(docs, L)
    per_doc_occ = marked.groupBy("doc_id").agg(
        F.sum((~F.col("is_keeper")).cast("long")).alias("dup_occ"),
        F.sum(F.col("is_keeper").cast("long")).alias("keep_occ"),
    )
    per_doc_rm = keepone_removed_counts(marked, L)
    return (
        d.select("doc_id", "n")
        .join(per_doc_occ, "doc_id", "left")
        .join(per_doc_rm, "doc_id", "left")
        .select(
            "doc_id",
            "n",
            F.coalesce("dup_occ", F.lit(0)).alias("dup_occ"),
            F.coalesce("keep_occ", F.lit(0)).alias("keep_occ"),
            F.coalesce("chars_removed", F.lit(0)).alias("chars_removed"),
            F.expr("1000000 * coalesce(chars_removed, 0) DIV n").alias(
                "removed_micro"
            ),
        )
        .orderBy("doc_id")
    )


def q_keepone_removal(spark: SparkSession, sf_dir: str) -> DataFrame:
    """See keepone_removal_report — the catalog form over the
    documents table."""
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    return keepone_removal_report(docs, _KP_L)


SQL_KEEPONE_REMOVAL = f"""
WITH d AS (SELECT doc_id, text, length(text) AS n FROM documents),
p AS (
  SELECT doc_id, n, unnest(range(0, n)) AS x, text FROM d
),
grams AS (
  SELECT doc_id, x AS s, substr(text, x + 1, {_KP_L}) AS g
  FROM p WHERE x + {_KP_L} <= n
),
groups AS (
  SELECT g, count(*) AS cnt,
         min(doc_id * {_KP_POSBITS} + s) AS kkey
  FROM grams GROUP BY 1 HAVING count(*) >= 2
),
marked AS (
  SELECT grams.doc_id, grams.s,
         (grams.doc_id * {_KP_POSBITS} + grams.s = groups.kkey) AS is_keeper
  FROM grams JOIN groups USING (g)
),
spans AS (
  SELECT DISTINCT doc_id, s, is_keeper, bin FROM (
    SELECT *, s // {_KP_L} AS bin FROM marked
    UNION ALL
    SELECT *, (s + {_KP_L} - 1) // {_KP_L} AS bin FROM marked
  )
),
chars AS (SELECT doc_id, n, x, x // {_KP_L} AS bin FROM p),
cov AS (
  SELECT c.doc_id, c.x,
         max(NOT sp.is_keeper) AS any_rm,
         max(sp.is_keeper) AS any_kp
  FROM chars c JOIN spans sp
    ON c.doc_id = sp.doc_id AND c.bin = sp.bin
   AND c.x >= sp.s AND c.x < sp.s + {_KP_L}
  GROUP BY 1, 2
),
removed AS (
  SELECT doc_id, x FROM cov WHERE any_rm AND NOT any_kp
),
occ AS (
  SELECT doc_id,
         CAST(sum(CAST(NOT is_keeper AS BIGINT)) AS BIGINT) AS dup_occ,
         CAST(sum(CAST(is_keeper AS BIGINT)) AS BIGINT) AS keep_occ
  FROM marked GROUP BY 1
),
rm AS (SELECT doc_id, count(*) AS chars_removed FROM removed GROUP BY 1)
SELECT d.doc_id, d.n,
       coalesce(dup_occ, 0) AS dup_occ,
       coalesce(keep_occ, 0) AS keep_occ,
       coalesce(chars_removed, 0) AS chars_removed,
       (1000000 * coalesce(chars_removed, 0)) // d.n AS removed_micro
FROM d LEFT JOIN occ USING (doc_id) LEFT JOIN rm USING (doc_id)
ORDER BY 1"""


# --------------------------------------------------------------------------
# dup_source_matrix — which source pairs share near-duplicate content
# --------------------------------------------------------------------------

_DSM_TAU = 0.5  # exact-Jaccard verification threshold


def q_dup_source_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-source near-duplicate matrix: MinHash-LSH candidate
    pairs (the minhash_lsh_pairs machinery, k=32, 4 rows/band),
    verified with exact word-set Jaccard >= {_DSM_TAU}, rolled up to
    unordered (source_a <= source_b) pair counts — the curation view
    that tells you WHICH feeds are mirroring each other before you
    spend dedup budget. max_jaccard (order-free max of exact
    rational divisions) is the per-cell severity.

    Scale: rides the banded single-self-join LSH shape; the rollup
    adds one broadcast-size join to the doc->source projection and a
    tiny (sources^2) agg."""
    d = _docs_parallel(spark, sf_dir)
    cand = DD.minhash_lsh_candidates(
        d, "text", "doc_id", num_hashes=_MH_K, rows_per_band=_MH_R, max_df=_MH_MAXDF
    )
    ver = DD.jaccard_pairs(d, cand, "text", "doc_id").filter(
        F.col("jaccard") >= _DSM_TAU
    )
    src = d.select("doc_id", "source")
    j = (
        ver.join(src.select(F.col("doc_id").alias("id_a"), F.col("source").alias("_sa")), "id_a")
        .join(src.select(F.col("doc_id").alias("id_b"), F.col("source").alias("_sb")), "id_b")
    )
    return (
        j.select(
            F.least("_sa", "_sb").alias("source_a"),
            F.greatest("_sa", "_sb").alias("source_b"),
            "jaccard",
        )
        .groupBy("source_a", "source_b")
        .agg(
            F.count(F.lit(1)).alias("n_pairs"),
            F.round(F.max("jaccard"), 6).alias("max_jaccard"),
        )
        .orderBy("source_a", "source_b")
    )


SQL_DUP_SOURCE_MATRIX = f"""{SQL_WORDS},
{_minhash_pairs_sql(_MH_K, _MH_R)},
ws AS (SELECT doc_id, source, list_distinct(toks) AS ws FROM w),
ver AS (
  SELECT a.source AS sa, b.source AS sb,
         CAST(len(list_intersect(a.ws, b.ws)) AS DOUBLE)
         / CAST(len(list_distinct(list_concat(a.ws, b.ws))) AS DOUBLE) AS jaccard
  FROM pairs JOIN ws a ON pairs.id_a = a.doc_id JOIN ws b ON pairs.id_b = b.doc_id
)
SELECT least(sa, sb) AS source_a, greatest(sa, sb) AS source_b,
       count(*) AS n_pairs, round(max(jaccard), 6) AS max_jaccard
FROM ver WHERE jaccard >= {_DSM_TAU}
GROUP BY 1, 2 ORDER BY 1, 2"""


# --- incremental_dedup ------------------------------------------------------

_NEAR_J = 0.8  # near-dup threshold, same as the minhash_lsh_pairs family


def q_incremental_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental (batch-vs-corpus) dedup triage: treat doc_id%10==0
    as the incoming ingest batch and the rest as the existing corpus,
    and classify every batch doc WITHOUT ever self-joining the corpus:

    - ``exact_dup``: order-insensitive word-set fingerprint matches a
      corpus doc (match = smallest such corpus id);
    - ``near_dup``: a MinHash-LSH band key (k=32, 4 rows/band, corpus
      hot-bucket guard at 100) matches a corpus doc AND the exact
      word-set Jaccard of the best candidate (max Jaccard, ties to the
      smaller corpus id) is >= 0.8;
    - ``novel``: neither.

    This is the ingest-time shape of Lee et al. 2022-style dedup: the
    corpus band rows are a pure function of the corpus (bucketable,
    persisted once — see sources/bucketed.py), so each new batch pays
    one fingerprint hash-join plus one band equi-join against matched
    buckets only. Re-running corpus×corpus per ingest is the 100-TB
    anti-pattern this entry exists to replace (the full self-join
    remains available as ``minhash_lsh_pairs``).

    Reference scope: the reference engine has no dedup surface; this
    extends SURVEY §2.7's text-function family per the round brief.
    """
    d = _docs_parallel(spark, sf_dir)
    is_new = F.col("doc_id") % 10 == 0
    newd = d.filter(is_new)
    corp = d.filter(~is_new)

    cfp = (
        corp.select(DD.doc_fingerprint("text").alias("fp"), "doc_id")
        .groupBy("fp")
        .agg(F.min("doc_id").alias("exact_id"))
    )
    exact = (
        newd.select("doc_id", DD.doc_fingerprint("text").alias("fp"))
        .join(cfp, "fp", "left")
        .select("doc_id", "exact_id")
    )

    cand = DD.incremental_lsh_candidates(
        newd,
        corp,
        "text",
        "doc_id",
        num_hashes=_MH_K,
        rows_per_band=_MH_R,
        max_df=_MH_MAXDF,
    )
    pairs = cand.select(
        F.col("new_id").alias("id_a"), F.col("corpus_id").alias("id_b")
    )
    j = DD.jaccard_pairs(d, pairs, "text", "doc_id")
    best = (
        j.withColumn(
            "_rn",
            F.row_number().over(
                Window.partitionBy("id_a").orderBy(
                    F.desc("jaccard"), F.asc("id_b")
                )
            ),
        )
        .filter(F.col("_rn") == 1)
        .select(
            F.col("id_a").alias("doc_id"),
            F.col("id_b").alias("near_id"),
            F.col("jaccard").alias("near_j"),
        )
    )

    out = exact.join(best, "doc_id", "left")
    is_exact = F.col("exact_id").isNotNull()
    is_near = F.col("near_j") >= _NEAR_J  # NULL near_j -> NULL -> not near
    return out.select(
        "doc_id",
        F.when(is_exact, F.lit("exact_dup"))
        .when(is_near, F.lit("near_dup"))
        .otherwise(F.lit("novel"))
        .alias("status"),
        F.when(is_exact, F.col("exact_id"))
        .when(is_near, F.col("near_id"))
        .alias("match_id"),
        F.when(~is_exact & is_near, F.col("near_j")).alias("jaccard"),
    )


def _incremental_bands_sql(num_hashes: int, rows_per_band: int) -> str:
    """bands CTE (doc_id, band, key) — the SQL mirror of
    ``dedup._band_rows``: sig columns from the shared MinHash
    builders, unpivoted one band per row."""
    n_bands = (num_hashes + rows_per_band - 1) // rows_per_band
    unpivot = "\n  UNION ALL\n  ".join(
        f"SELECT doc_id, {b} AS band, band{b} AS key FROM sig"
        for b in range(n_bands)
    )
    return (
        f"sh AS (SELECT doc_id, {_shingles_sql()} AS sh FROM w),\n"
        f"sig AS (\n  SELECT doc_id,\n"
        f"         {_minhash_sig_sql(num_hashes, rows_per_band)}\n  FROM sh\n),\n"
        f"bands AS (\n  {unpivot}\n)"
    )


SQL_INCREMENTAL_DEDUP = f"""{SQL_WORDS},
ws AS (SELECT doc_id, list_distinct(toks) AS ws FROM w),
fp AS (
  SELECT doc_id, md5(array_to_string(list_sort(list_distinct(toks)), ' ')) AS fp
  FROM w
),
exact AS (
  SELECT n.doc_id, min(c.doc_id) AS exact_id
  FROM fp n JOIN fp c ON n.fp = c.fp AND c.doc_id % 10 <> 0
  WHERE n.doc_id % 10 = 0 GROUP BY n.doc_id
),
{_incremental_bands_sql(_MH_K, _MH_R)},
cb AS (SELECT doc_id, band, key FROM bands WHERE doc_id % 10 <> 0),
guard AS (
  SELECT band, key FROM cb GROUP BY band, key HAVING count(*) <= {_MH_MAXDF}
),
cg AS (SELECT cb.doc_id, cb.band, cb.key FROM cb JOIN guard USING (band, key)),
nb AS (SELECT doc_id, band, key FROM bands WHERE doc_id % 10 = 0),
cand AS (
  SELECT DISTINCT nb.doc_id AS id_a, cg.doc_id AS id_b
  FROM nb JOIN cg USING (band, key)
),
jac AS (
  SELECT id_a, id_b,
         CAST(len(list_intersect(a.ws, b.ws)) AS DOUBLE)
         / CAST(len(list_distinct(list_concat(a.ws, b.ws))) AS DOUBLE)
           AS jaccard
  FROM cand JOIN ws a ON cand.id_a = a.doc_id
            JOIN ws b ON cand.id_b = b.doc_id
),
best AS (
  SELECT id_a, id_b, jaccard FROM (
    SELECT id_a, id_b, jaccard,
           row_number() OVER (PARTITION BY id_a
                              ORDER BY jaccard DESC, id_b ASC) AS rn
    FROM jac
  ) WHERE rn = 1
)
SELECT n.doc_id,
       CASE WHEN e.exact_id IS NOT NULL THEN 'exact_dup'
            WHEN b.jaccard >= {_NEAR_J} THEN 'near_dup'
            ELSE 'novel' END AS status,
       CASE WHEN e.exact_id IS NOT NULL THEN e.exact_id
            WHEN b.jaccard >= {_NEAR_J} THEN b.id_b END AS match_id,
       CASE WHEN e.exact_id IS NULL AND b.jaccard >= {_NEAR_J}
            THEN b.jaccard END AS jaccard
FROM (SELECT doc_id FROM documents WHERE doc_id % 10 = 0) n
LEFT JOIN exact e ON n.doc_id = e.doc_id
LEFT JOIN best b ON n.doc_id = b.id_a"""


# --- containment_pairs ------------------------------------------------------

_CONT_T = 0.5  # report threshold on containment


def q_containment_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Asymmetric word-set containment |A∩B|/|A| (with Jaccard
    alongside) over the same bounded candidate set as
    ``jaccard_pairs`` (anchors doc_id%5==0 vs the next 25 ids, as an
    exploded equi-join — never a nested loop). Containment >= 0.5
    surfaces subset duplication — an anchor quoted wholesale inside a
    longer doc scores containment ~1 while its Jaccard stays below
    any dedup threshold; dedup pipelines report both for exactly this
    case (Lee et al. 2022 §4)."""
    d = load_table(spark, sf_dir, "documents")
    ids = d.select("doc_id")
    a = (
        ids.filter(F.col("doc_id") % 5 == 0)
        .select(
            F.col("doc_id").alias("id_a"),
            F.explode(F.sequence(F.lit(1), F.lit(25))).alias("_off"),
        )
        .select("id_a", (F.col("id_a") + F.col("_off")).alias("id_b"))
    )
    b = ids.select(F.col("doc_id").alias("id_b"))
    pairs = a.join(b, on="id_b")
    c = DD.containment_pairs(d, pairs, "text", "doc_id", restrict=False)
    return c.filter(F.col("containment") >= _CONT_T)


SQL_CONTAINMENT_PAIRS = f"""{SQL_WORDS},
ws AS (SELECT doc_id, list_distinct(toks) AS ws FROM w)
SELECT id_a, id_b, containment, jaccard FROM (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b,
         CAST(len(list_intersect(a.ws, b.ws)) AS DOUBLE)
         / CAST(len(a.ws) AS DOUBLE) AS containment,
         CAST(len(list_intersect(a.ws, b.ws)) AS DOUBLE)
         / CAST(len(list_distinct(list_concat(a.ws, b.ws))) AS DOUBLE)
           AS jaccard
  FROM ws a JOIN ws b
    ON a.doc_id % 5 = 0 AND b.doc_id > a.doc_id AND b.doc_id <= a.doc_id + 25
  WHERE len(a.ws) > 0
) WHERE containment >= {_CONT_T}"""


# --- dedup_keep_best --------------------------------------------------------


def q_dedup_keep_best(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Policy-based canonical selection: within each order-insensitive
    word-set fingerprint group, keep the LONGEST variant (max n_chars,
    ties to the smaller doc_id) instead of ``fingerprint_dedup``'s
    min-id. This is how production curation picks survivors — dedup
    keeps the best-quality duplicate (longest / highest-scoring), not
    an arbitrary one, because near-identical variants often differ by
    truncation. Per-doc output (canonical_id, group_size, is_kept);
    singletons are their own canonical.

    Scale: one hash per doc + a single fingerprint-partitioned window
    (two specs, same partitioning → one shuffle), no joins."""
    d = _docs_parallel(spark, sf_dir)
    d = d.withColumn("_fp", DD.doc_fingerprint("text"))
    wg = Window.partitionBy("_fp")
    wo = wg.orderBy(F.desc("n_chars"), F.asc("doc_id")).rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    return d.select(
        "doc_id",
        F.first("doc_id").over(wo).alias("canonical_id"),
        F.count(F.lit(1)).over(wg).alias("group_size"),
        (F.col("doc_id") == F.first("doc_id").over(wo)).alias("is_kept"),
    )


SQL_DEDUP_KEEP_BEST = f"""{SQL_WORDS},
fp AS (
  SELECT doc_id, n_chars,
         md5(array_to_string(list_sort(list_distinct(toks)), ' ')) AS fp
  FROM w
)
SELECT doc_id,
       first_value(doc_id) OVER kept AS canonical_id,
       CAST(count(*) OVER (PARTITION BY fp) AS BIGINT) AS group_size,
       doc_id = first_value(doc_id) OVER kept AS is_kept
FROM fp
WINDOW kept AS (PARTITION BY fp ORDER BY n_chars DESC, doc_id ASC
                ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)"""


# --- simhash_near_pairs -----------------------------------------------------

_SH_WORD_BITS = 32
_SH_WORDS = 2  # 64-bit fingerprint = two independently-salted 32-bit words
_SH_BANDS = 4  # -> 16-bit blocks, Manku's production configuration
_SH_MAXH = 3


def q_simhash_near_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash near-dup pairs at Hamming distance <= 3 via
    Hamming-block banding (Manku et al. 2007): a 64-bit fingerprint
    (two independently-salted 32-bit portable simhashes — md5 yields
    32 usable bits per expression) split into 4×16-bit blocks;
    distance <= 3 < 4 blocks guarantees agreement on a whole block
    (pigeonhole), so the per-block equi-join has recall 1.0 —
    deterministic, unlike MinHash-LSH's probabilistic banding — and
    only block collisions pay the popcount verify, map-side, before
    any shuffle. 16-bit blocks are the scale knob: chance collisions
    grow n²/65 536 (the 8-bit-block prototype measured 10×
    superlinear at 50k docs; this shape re-measured ~linear)."""
    d = _docs_parallel(spark, sf_dir)
    return DD.simhash_hamming_pairs(
        d,
        "text",
        "doc_id",
        n_words=_SH_WORDS,
        word_bits=_SH_WORD_BITS,
        n_bands=_SH_BANDS,
        max_hamming=_SH_MAXH,
    )


def _sh_band_sql() -> str:
    block = _SH_WORDS * _SH_WORD_BITS // _SH_BANDS
    per_word = _SH_WORD_BITS // block
    parts = [
        f"SELECT doc_id, sh0, sh1, {b} AS band, "
        f"(sh{b // per_word} // {1 << ((b % per_word) * block)}) % {1 << block} AS key FROM s"
        for b in range(_SH_BANDS)
    ]
    return "\n  UNION ALL\n  ".join(parts)


SQL_SIMHASH_NEAR_PAIRS = f"""{SQL_WORDS},
d AS (SELECT doc_id, list_distinct(toks) AS ws FROM w),
s AS (SELECT doc_id,
        CAST({_simhash_sql_bits(_SH_WORD_BITS, DD.SIMHASH_SALTS[0])} AS BIGINT) AS sh0,
        CAST({_simhash_sql_bits(_SH_WORD_BITS, DD.SIMHASH_SALTS[1])} AS BIGINT) AS sh1
      FROM d),
bands AS (
  {_sh_band_sql()}
),
cand AS (
  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b,
         a.sh0 AS a0, a.sh1 AS a1, b.sh0 AS b0, b.sh1 AS b1
  FROM bands a JOIN bands b USING (band, key)
  WHERE a.doc_id < b.doc_id
)
SELECT id_a, id_b,
       CAST(bit_count(xor(a0, b0)) + bit_count(xor(a1, b1)) AS BIGINT)
         AS hamming
FROM cand
WHERE bit_count(xor(a0, b0)) + bit_count(xor(a1, b1)) <= {_SH_MAXH}"""


# --- para_dedup -------------------------------------------------------------

_PARA_C = 16  # chunk size in tokens ("paragraphs" of the fixtures)
_PARA_MIN = 4  # drop tail chunks too short to shingle meaningfully
_PARA_PACK = 1024  # chunk_id = doc_id * PACK + idx (<= 16k tokens/doc)
_PARA_K = 16  # minhash seeds
_PARA_R = 2  # rows per band -> 8 bands (recall ~0.996 at J=0.8)
_PARA_MAXDF = 100  # hot-bucket guard, same rationale as doc-level
_PARA_JTAU = 0.8


def q_para_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Part-level near-dedup (RefinedWeb §dedup runs doc- AND
    part-level passes): docs are chunked into fixed 16-token windows
    ("paragraphs" — the fixtures have no newlines; swap the chunker
    for a newline split on real data, the plan is identical), chunks
    near-dedup through the SAME banded MinHash-LSH + hot-bucket-guard
    machinery as ``minhash_lsh_pairs`` (k=16, 2 rows/band), verified
    with exact word-set Jaccard >= 0.8, then rolled up to doc pairs
    from DIFFERENT docs: shared-chunk count, max chunk Jaccard, and
    whether the docs are byte-identical anyway.

    The pin (``test_para_dedup_finds_what_doc_level_misses``): every fixture pair found
    here has is_doc_dup = false — part-level dedup catches copied
    blocks that doc-level exact/near dedup misses entirely.

    100-TB shape: chunking is a narrow explode; candidates ride ONE
    shuffle of skinny (chunk, band, key) rows with the max_df
    quadratic-bucket guard; only surviving candidates pay the exact
    verify. Chunk ids pack as doc_id * 1024 + idx — wide enough for
    16k-token docs; chunks past the bound are EXCLUDED symmetrically
    (i < 1024 filters engine AND oracle), never silently
    misattributed to the next doc id; a production corpus widens the
    multiplier (the id is opaque to every join)."""

    d = _docs_parallel(spark, sf_dir)
    base = d.select("doc_id", tokens("text").alias("toks")).filter(
        F.size("toks") > 0
    )
    idx = F.sequence(
        F.lit(0), F.floor((F.size("toks") - 1) / _PARA_C).cast("int")
    )
    ch = (
        base.select("doc_id", "toks", F.explode(idx).alias("i"))
        # the packing bound: chunks past _PARA_PACK would alias into
        # the NEXT doc's id space — excluded symmetrically in the
        # oracle (i < PACK there too), never silently misattributed
        .filter(F.col("i") < _PARA_PACK)
        .select(
            (F.col("doc_id") * _PARA_PACK + F.col("i")).alias("chunk_id"),
            F.slice("toks", F.col("i") * _PARA_C + 1, _PARA_C).alias("ctoks"),
        )
        .filter(F.size("ctoks") >= _PARA_MIN)
        .select("chunk_id", F.concat_ws(" ", "ctoks").alias("chunk_text"))
    )
    cand = DD.minhash_lsh_candidates(
        ch,
        "chunk_text",
        "chunk_id",
        num_hashes=_PARA_K,
        rows_per_band=_PARA_R,
        max_df=_PARA_MAXDF,
    )
    ver = DD.jaccard_pairs(ch, cand, "chunk_text", "chunk_id")
    # id_a < id_b and packed ids are doc-major, so doc_a < doc_b is
    # automatic once same-doc pairs are dropped
    dp = ver.filter(F.col("jaccard") >= _PARA_JTAU).select(
        F.expr(f"id_a DIV {_PARA_PACK}").alias("doc_a"),
        F.expr(f"id_b DIV {_PARA_PACK}").alias("doc_b"),
        "jaccard",
    ).filter(F.col("doc_a") != F.col("doc_b"))
    agg = dp.groupBy("doc_a", "doc_b").agg(
        F.count(F.lit(1)).alias("n_dup_chunk_pairs"),
        F.round(F.max("jaccard"), 6).alias("max_jac"),
    )
    h = d.select("doc_id", F.md5("text").alias("h"))
    return (
        agg.join(
            h.select(F.col("doc_id").alias("doc_a"), F.col("h").alias("ha")),
            "doc_a",
        )
        .join(
            h.select(F.col("doc_id").alias("doc_b"), F.col("h").alias("hb")),
            "doc_b",
        )
        .select(
            "doc_a",
            "doc_b",
            "n_dup_chunk_pairs",
            "max_jac",
            (F.col("ha") == F.col("hb")).alias("is_doc_dup"),
        )
    )


def _para_pairs_sql() -> str:
    """Chunk-level candidate CTE: the chunk table is aliased as ``w``
    with chunk_id named doc_id, so ``_minhash_pairs_sql`` —
    the SAME fragment minhash_lsh_pairs oracles with — applies
    verbatim over chunks."""

    return _minhash_pairs_sql(_PARA_K, _PARA_R, _PARA_MAXDF)


def _sql_para_dedup() -> str:
    return f"""
WITH base AS (
  SELECT doc_id, {SQL_TOKS_EXPR} AS toks
  FROM documents
),
w AS (
  SELECT doc_id * {_PARA_PACK} + i AS doc_id,
         toks[i * {_PARA_C} + 1 : i * {_PARA_C} + {_PARA_C}] AS toks
  FROM (SELECT doc_id, toks, unnest(generate_series(0, (len(toks) - 1) // {_PARA_C})) AS i
        FROM base WHERE len(toks) > 0)
  WHERE i < {_PARA_PACK}
    AND len(toks[i * {_PARA_C} + 1 : i * {_PARA_C} + {_PARA_C}]) >= {_PARA_MIN}
),
{_para_pairs_sql()},
ws AS (SELECT doc_id, list_distinct(toks) AS ws FROM w),
j AS (
  SELECT id_a, id_b,
         CAST(len(list_intersect(a.ws, b.ws)) AS DOUBLE)
         / CAST(len(list_distinct(list_concat(a.ws, b.ws))) AS DOUBLE) AS jaccard
  FROM pairs JOIN ws a ON pairs.id_a = a.doc_id JOIN ws b ON pairs.id_b = b.doc_id
),
dp AS (
  SELECT id_a // {_PARA_PACK} AS doc_a, id_b // {_PARA_PACK} AS doc_b, jaccard
  FROM j WHERE jaccard >= {_PARA_JTAU} AND id_a // {_PARA_PACK} <> id_b // {_PARA_PACK}
),
agg AS (
  SELECT doc_a, doc_b, CAST(count(*) AS BIGINT) AS n_dup_chunk_pairs,
         round(max(jaccard), 6) AS max_jac
  FROM dp GROUP BY doc_a, doc_b
),
h AS (SELECT doc_id, md5(text) AS h FROM documents)
SELECT agg.doc_a, agg.doc_b, n_dup_chunk_pairs, max_jac, ha.h = hb.h AS is_doc_dup
FROM agg JOIN h ha ON agg.doc_a = ha.doc_id JOIN h hb ON agg.doc_b = hb.doc_id"""


SQL_PARA_DEDUP = _sql_para_dedup()


ENTRIES = {
    "containment_pairs": (q_containment_pairs, SQL_CONTAINMENT_PAIRS),
    "contamination_overlap": (q_contamination_overlap, SQL_CONTAMINATION_OVERLAP),
    "cross_dedup": (q_cross_dedup, SQL_CROSS_DEDUP),
    "decontaminate": (q_decontaminate, SQL_DECONTAMINATE),
    "dedup_clusters": (q_dedup_clusters, SQL_DEDUP_CLUSTERS),
    "dedup_keep_best": (q_dedup_keep_best, SQL_DEDUP_KEEP_BEST),
    "dedup_report": (q_dedup_report, SQL_DEDUP_REPORT),
    "dup_source_matrix": (q_dup_source_matrix, SQL_DUP_SOURCE_MATRIX),
    "dup_span_removal": (q_dup_span_removal, SQL_DUP_SPAN_REMOVAL),
    "dup_span_removal_keepone": (q_dup_span_removal_keepone, SQL_DUP_SPAN_REMOVAL_KEEPONE),
    "dup_spans": (q_dup_spans, SQL_DUP_SPANS),
    "exact_dedup": (q_exact_dedup, SQL_EXACT_DEDUP),
    "fingerprint_dedup": (q_fingerprint_dedup, SQL_FP_DEDUP),
    "fuzzy_join": (q_fuzzy_join, SQL_FUZZY_JOIN),
    "incremental_dedup": (q_incremental_dedup, SQL_INCREMENTAL_DEDUP),
    "jaccard_pairs": (q_jaccard_pairs, SQL_JACCARD),
    "keepone_removal": (q_keepone_removal, SQL_KEEPONE_REMOVAL),
    "line_dedup": (q_line_dedup, SQL_LINE_DEDUP),
    "minhash_lsh_pairs": (q_minhash_lsh_pairs, SQL_MINHASH_LSH),
    "minhash_signatures": (q_minhash_signatures, SQL_MINHASH),
    "para_dedup": (q_para_dedup, SQL_PARA_DEDUP),
    "simhash": (q_simhash, SQL_SIMHASH),
    "simhash_near_pairs": (q_simhash_near_pairs, SQL_SIMHASH_NEAR_PAIRS),
    "winnow_fingerprints": (q_winnow_fingerprints, SQL_WINNOW),
    "winnow_matches": (q_winnow_matches, SQL_WINNOW_MATCHES),
}
