"""Suffix family: suffix-order repetition profiles. ``suffix_repeats``
profiles each document's internal repeats from its adjacent-suffix LCPs;
``suffix_xdoc_repeats`` finds cross-document repeats from the
corpus-global suffix order (Lee et al. 2022 §3 build a corpus suffix
array for exact-substring dedup; the dedup family's span entries use
fixed 8-gram hashing instead).

The oracles sort every suffix's depth-bounded prefix directly, so a
green row checks the engine's order against the definition, not
against a reimplementation of itself. Orders are depth-bounded (ties by
position) in both engines and LCPs are capped integers."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from wq_data_pipeline_spark.operators.suffix import doc_adjacent_lcp
from wq_data_pipeline_spark.sources.testdata import load_table


_SA_DEPTH = 64
_REP_MIN = 10


def q_suffix_repeats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document repetition profile from the suffix array:
    max_lcp = the longest internally repeated substring (capped at
    {depth-1}), sum_lcp = total adjacent repeat mass (the suffix-
    array statistic behind 'number of distinct substrings'), and
    n_rep_pairs = adjacent suffix pairs sharing >= {rep_min} chars.

    Scale: every stage — the one suffix-order window, the LCP
    evaluation, the final agg — partitions by doc_id; corpus size
    only widens the partition count. The suffix order is the DIRECT
    depth-bounded sort (operators/suffix.py:doc_adjacent_lcp — one
    window pass, LCP from the keys, text never re-joins), checked
    against a pure-Python suffix sort in tests/test_suffix.py."""
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    adj = doc_adjacent_lcp(docs, "doc_id", "text", depth=_SA_DEPTH)
    return (
        adj.groupBy("doc_id")
        .agg(
            F.max("n").alias("n"),
            F.max("lcp").alias("max_lcp"),
            F.sum("lcp").alias("sum_lcp"),
            F.sum((F.col("lcp") >= _REP_MIN).cast("long")).alias("n_rep_pairs"),
        )
        .orderBy("doc_id")
    )


def _lcp_sql(a: str, b: str, cap: int) -> str:
    terms = " + ".join(
        f"CAST(substr(text, {a} + 1, {k}) = substr(text, {b} + 1, {k}) AS BIGINT)"
        for k in range(1, cap + 1)
    )
    return f"({terms})"


SQL_SUFFIX_REPEATS = f"""
WITH p AS (
  SELECT doc_id, text, length(text) AS n,
         unnest(range(0, length(text))) AS pos
  FROM documents
),
r AS (
  SELECT doc_id, text, n, pos,
         row_number() OVER (PARTITION BY doc_id
                            ORDER BY substr(text, pos + 1, {_SA_DEPTH}), pos) AS rk
  FROM p
),
a AS (
  SELECT doc_id, text, n, pos,
         lag(pos) OVER (PARTITION BY doc_id ORDER BY rk) AS prev_pos
  FROM r
),
l AS (
  SELECT doc_id, n, {_lcp_sql("pos", "prev_pos", _SA_DEPTH - 1)} AS lcp
  FROM a WHERE prev_pos IS NOT NULL
)
SELECT doc_id,
       max(n) AS n,
       max(lcp) AS max_lcp,
       CAST(sum(lcp) AS BIGINT) AS sum_lcp,
       CAST(sum(CAST(lcp >= {_REP_MIN} AS BIGINT)) AS BIGINT) AS n_rep_pairs
FROM l GROUP BY 1 ORDER BY 1"""


_XDOC_MIN = 20
# Cross-doc key depth (r11 trim, the documented BASELINE.md note):
# the xdoc signal is "shares >= _XDOC_MIN chars with another doc" —
# a 32-char window keys that exactly (cap 31 >= 20) while HALVING the
# bytes every position ships through the one global-order shuffle and
# halving the LCP indicator tree on both engines. Output changes vs
# depth 64 (hence the r11 driver-window rotation): max_xlcp saturates
# at 31, AND adjacency itself can regroup — positions tied on 32
# chars but distinct in chars 33-64 now order by (doc, pos) instead
# of the longer key, so n_xpairs/n_xdoc20 can shift on such ties (the
# >= 20-char DETECTION capability is what's preserved: any pair
# sharing >= 20 chars still shares its 32-char bucket's prefix order
# neighborhood exactly as a 20-char threshold requires). Measured at
# sf0.1: warm median 10.8 -> 9.7 s (the residual wall is the window
# sort + the per-position key build, not key bytes — the int64-
# packed-seed doubling-rank rewrite remains the deeper trim).
_XDOC_DEPTH = 32


def q_suffix_xdoc_repeats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CROSS-document repeats from the corpus-GLOBAL suffix order
    (operators/suffix.py:global_adjacent_lcp): per document, how many
    of its positions have their global suffix-order predecessor in a
    DIFFERENT document, the longest such shared prefix, and the
    count sharing >= {_XDOC_MIN} chars — the exact-substring overlap
    signal Lee et al. 2022 §3 derive from a corpus suffix array and
    the gram-hash dup_spans entry approximates with aligned 8-grams.

    Scale: range-partitioned global order (never a single-partition
    window), per-partition adjacency, boundary pairs stitched from a
    driver collect bounded by the partition count; each position
    ships its {_XDOC_DEPTH}-char key once and texts re-join only onto
    the adjacent pairs."""
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    from wq_data_pipeline_spark.operators.suffix import global_adjacent_lcp

    adj = global_adjacent_lcp(docs, "doc_id", "text", depth=_XDOC_DEPTH)
    x = adj.filter(F.col("prev_doc") != F.col("doc_id"))
    return (
        x.groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_xpairs"),
            F.max("lcp").alias("max_xlcp"),
            F.sum((F.col("lcp") >= _XDOC_MIN).cast("long")).alias("n_xdoc20"),
        )
        .orderBy("doc_id")
    )


SQL_SUFFIX_XDOC_REPEATS = f"""
WITH p AS (
  SELECT doc_id, text, unnest(range(0, length(text))) AS pos FROM documents
),
r AS (
  SELECT doc_id, pos,
         substr(text, pos + 1, {_XDOC_DEPTH}) AS k,
         lag(doc_id) OVER w AS prev_doc,
         lag(substr(text, pos + 1, {_XDOC_DEPTH})) OVER w AS pk
  FROM p WINDOW w AS (ORDER BY substr(text, pos + 1, {_XDOC_DEPTH}), doc_id, pos)
),
x AS (
  SELECT doc_id,
         ({" + ".join(
             f"CAST(substr(rpad(substr(k, 1, {_XDOC_DEPTH - 1}), {_XDOC_DEPTH - 1}, chr(1)), 1, {j}) = "
             f"substr(rpad(substr(pk, 1, {_XDOC_DEPTH - 1}), {_XDOC_DEPTH - 1}, chr(2)), 1, {j}) AS BIGINT)"
             for j in range(1, _XDOC_DEPTH)
         )}) AS lcp
  FROM r WHERE prev_doc IS NOT NULL AND prev_doc <> doc_id
)
SELECT doc_id,
       count(*) AS n_xpairs,
       max(lcp) AS max_xlcp,
       CAST(sum(CAST(lcp >= {_XDOC_MIN} AS BIGINT)) AS BIGINT) AS n_xdoc20
FROM x GROUP BY 1 ORDER BY 1"""


ENTRIES = {
    "suffix_repeats": (q_suffix_repeats, SQL_SUFFIX_REPEATS),
    "suffix_xdoc_repeats": (q_suffix_xdoc_repeats, SQL_SUFFIX_XDOC_REPEATS),
}
