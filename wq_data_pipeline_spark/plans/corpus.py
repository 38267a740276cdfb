"""Corpus / tokenizer family: the text-curation and data-mixing stages
of a training-data pipeline — quality heuristics and filters, PII, lang
ID, BPE training and application, LM scores, token statistics,
chunking and packing, source mixtures, splits and release manifests.

Portability: md5 hex digests are the cross-engine hash primitive;
``SQL_WORDS``/``SQL_TOKS_EXPR`` are the shared oracle tokenizers and
``_docs_parallel`` the shared documents scan. The split rule
(``_TRAIN_LT``/``_VAL_LT``, ``_split_of``/``_sql_split_case``) has one
definition used by every split-aware entry.

The logistic trainers (quality_train*, lang_id_*) are
oracle-replayable: all shared state is integer. Weights live in micro
units (BIGINT); per-doc logits are exact BIGINT dots; the sigmoid is
quantized per doc (per doc and class for lang ID) BEFORE summation
(round((p - y) * 1e6)), so gradient sums are order-free and each
update is one deterministic double op on exact integers. Per-round state is an O(1)-row weight
table broadcast to every join; the corpus-sized feature table is
checkpointed once and only joined. Trainer state, the BPE vocabulary
included, is session-stashed (operators/stash.py) so train/apply/eval
share one build.

Lang ID: K one-vs-rest logistic models over hashed character trigrams
of the first ``_LI_SNIP`` chars of each document (the fastText
deployment shape: feature cost is O(docs), not O(corpus chars)),
trained jointly for ``_LI_ROUNDS`` rounds; argmax ties close on
(z DESC, lang ASC) in both dialects. The fixture's ``lang`` column is
uncorrelated with its text, so the oracle pins determinism; accuracy
is pinned by ``test_lang_id_beats_heuristic_on_held_out``.

Acceptance reports: ``quality_calibration`` is the reliability diagram
of the trained quality classifier on its held-out slice (probabilities
quantized to micro units before any aggregation); ``tokenizer_fertility``
is BPE tokens per word and characters per token per language from the
stashed BPE vocabulary (exact integer micro ratios, valid while
n_bpe_tokens * 1e6 < 2^63); ``epoch_mix_plan`` is the epoch-capped
token-budget allocation with closed-form waterfilling."""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession, Window, functions as F

from wq_data_pipeline_spark.operators import text as TX
from wq_data_pipeline_spark.operators.pinning import pin
from wq_data_pipeline_spark.operators.scale import distributed_prefix_sum
from wq_data_pipeline_spark.operators.text import (
    doc_fingerprint,
    gram_hash,
    shingles_from_tokens,
    tokens,
)
from wq_data_pipeline_spark.sources.testdata import load_table


# Shared oracle CTE: whitespace tokens of lowercased text.
# The ONE SQL definition of the tokenizer (whitespace tokens of the
# lowercased text, empties removed) — the mirror of text.tokens().
# Interpolate SQL_TOKS_EXPR wherever an oracle tokenizes outside the
# shared w CTE, so the rule cannot drift between entries.
SQL_TOKS_EXPR = (
    "list_filter(string_split_regex(lower(text), '\\s+'), x -> x <> '')"
)
SQL_WORDS = (
    "WITH w AS (SELECT doc_id, lang, source, n_chars, text, "
    f"{SQL_TOKS_EXPR} AS toks "
    "FROM documents)"
)


def q_text_token_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token counting: whitespace tokens, distinct tokens, BPE-ish
    pre-tokenizer count, mean token length."""
    d = load_table(spark, sf_dir, "documents")
    toks = TX.tokens("text")
    n_tok = F.size(toks)
    total_len = F.aggregate(toks, F.lit(0), lambda a, x: a + F.length(x))
    return d.select(
        "doc_id",
        n_tok.alias("n_tokens"),
        F.size(F.array_distinct(toks)).alias("n_distinct"),
        TX.bpe_ish_count("text").alias("n_bpe_ish"),
        F.when(n_tok > 0, total_len.cast("double") / n_tok.cast("double"))
        .otherwise(0.0)
        .alias("mean_tok_len"),
    )


SQL_TOKEN_STATS = f"""{SQL_WORDS}
SELECT doc_id, len(toks) AS n_tokens,
       len(list_distinct(toks)) AS n_distinct,
       len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\\s]')) AS n_bpe_ish,
       CASE WHEN len(toks) > 0
            THEN CAST(list_sum(list_transform(toks, x -> length(x))) AS DOUBLE) / CAST(len(toks) AS DOUBLE)
            ELSE 0.0 END AS mean_tok_len
FROM w"""


def q_text_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality scoring + token counting in one driver row: stopword/
    punct ratios + composite score (explicit expression tree —
    bit-deterministic) plus the distinct-token and BPE-ish
    pre-tokenizer counts (the token-counting op's remaining
    columns)."""
    d = load_table(spark, sf_dir, "documents")
    d = TX.quality_features(d, "text")
    return d.select(
        "doc_id", "n_tokens", "n_stopwords", "n_punct",
        F.size(F.array_distinct(TX.tokens("text"))).alias("n_distinct"),
        TX.bpe_ish_count("text").alias("n_bpe_ish"),
        "stop_ratio", "punct_ratio", "mean_token_len", "quality_score",
    )


SQL_TEXT_QUALITY = f"""{SQL_WORDS},
f AS (
  SELECT doc_id, toks, len(toks) AS n_tokens,
         len(list_distinct(toks)) AS n_distinct,
         len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\\s]')) AS n_bpe_ish,
         len(regexp_extract_all(lower(text), '\\b(the|a|of|to|and|is|in|it|on|for)\\b')) AS n_stopwords,
         len(regexp_extract_all(text, '[^A-Za-z0-9\\s]')) AS n_punct,
         length(text) AS n_chars
  FROM w
),
r AS (
  SELECT doc_id, n_tokens, n_distinct, n_bpe_ish, n_stopwords, n_punct,
         CASE WHEN n_tokens > 0 THEN CAST(n_stopwords AS DOUBLE) / CAST(n_tokens AS DOUBLE) ELSE 0.0 END AS stop_ratio,
         CASE WHEN n_chars > 0 THEN CAST(n_punct AS DOUBLE) / CAST(n_chars AS DOUBLE) ELSE 0.0 END AS punct_ratio,
         CASE WHEN n_tokens > 0
              THEN CAST(list_sum(list_transform(toks, x -> length(x))) AS DOUBLE) / CAST(n_tokens AS DOUBLE)
              ELSE 0.0 END AS mean_token_len
  FROM f
)
SELECT doc_id, n_tokens, n_stopwords, n_punct, n_distinct, n_bpe_ish,
       stop_ratio, punct_ratio, mean_token_len,
       0.4 * least(CAST(n_tokens AS DOUBLE) / 100.0, 1.0)
       + 0.3 * stop_ratio
       + 0.3 * (1.0 - least(punct_ratio * 10.0, 1.0)) AS quality_score
FROM r"""


def q_lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Language-ID heuristic: stopword-marker argmax vs the labeled
    lang column; per (lang, predicted) confusion counts."""
    d = load_table(spark, sf_dir, "documents")
    d = d.withColumn("predicted", TX.predict_lang("text"))
    return d.groupBy("lang", "predicted").agg(F.count(F.lit(1)).alias("n_docs"))


SQL_LANG_ID = """
WITH s AS (
  SELECT lang,
         len(regexp_extract_all(lower(text), '\\b(the|and|of|is|to)\\b')) AS s_en,
         len(regexp_extract_all(lower(text), '\\b(der|die|und|das|ist)\\b')) AS s_de,
         len(regexp_extract_all(lower(text), '\\b(el|la|los|es|y)\\b')) AS s_es,
         len(regexp_extract_all(lower(text), '\\b(le|la|les|est|et)\\b')) AS s_fr,
         len(regexp_extract_all(lower(text), '[一-鿿]')) AS s_zh
  FROM documents
),
p AS (
  SELECT lang,
         CASE WHEN greatest(s_en, s_de, s_es, s_fr, s_zh) = 0 THEN 'und'
              WHEN s_en = greatest(s_en, s_de, s_es, s_fr, s_zh) THEN 'en'
              WHEN s_de = greatest(s_en, s_de, s_es, s_fr, s_zh) THEN 'de'
              WHEN s_es = greatest(s_en, s_de, s_es, s_fr, s_zh) THEN 'es'
              WHEN s_fr = greatest(s_en, s_de, s_es, s_fr, s_zh) THEN 'fr'
              ELSE 'zh' END AS predicted
  FROM s
)
SELECT lang, predicted, count(*) AS n_docs FROM p GROUP BY lang, predicted"""


def _docs_parallel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """documents is one small parquet file -> one input split; md5-heavy
    per-row expressions (shingles × seeds) would run serially. Spread
    rows across the local cores first — at real scale the file splits
    make this a no-op, locally it's a 20-40× win on the hash ops."""
    n = spark.sparkContext.defaultParallelism
    return load_table(spark, sf_dir, "documents").repartition(n, "doc_id")


_CHUNK_C = 64
_CHUNK_O = 8


def q_chunk_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Context-window chunking: 64-token chunks with 8-token overlap
    (stride 56) — one row per chunk, no shuffle (the explode is
    narrow). The packing primitive before tokenize-and-train."""
    d = load_table(spark, sf_dir, "documents")
    return TX.chunk_documents(d, "text", "doc_id", _CHUNK_C, _CHUNK_O)


SQL_CHUNK_DOCS = f"""{SQL_WORDS},
n AS (SELECT doc_id, toks, len(toks) AS n FROM w WHERE len(toks) > 0),
starts AS (
  SELECT doc_id, toks, n,
         unnest(generate_series(0, CAST(floor((greatest(n - {_CHUNK_O}, 1) - 1) / {_CHUNK_C - _CHUNK_O}) AS BIGINT) * {_CHUNK_C - _CHUNK_O}, {_CHUNK_C - _CHUNK_O})) AS s
  FROM n
)
SELECT doc_id,
       CAST(s / {_CHUNK_C - _CHUNK_O} AS INT) AS chunk_id,
       CAST(s AS INT) AS chunk_start_tok,
       CAST(len(toks[s + 1 : s + {_CHUNK_C}]) AS INT) AS n_chunk_tokens,
       array_to_string(toks[s + 1 : s + {_CHUNK_C}], ' ') AS chunk_text
FROM starts"""


def q_repetition_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style repetition filters (Rae et al. 2021 §A1.1): per-doc
    duplicate-word fraction and top 2-/3-gram share — the standard
    drop-repetitive-web-text signals of a training-data pipeline."""
    d = load_table(spark, sf_dir, "documents")
    return TX.repetition_features(d, "text", "doc_id", grams=(2, 3))


SQL_REPETITION = f"""{SQL_WORDS},
base AS (
  SELECT doc_id, toks, len(toks) AS n_tokens, len(list_distinct(toks)) AS n_distinct
  FROM w
),
g2 AS (
  SELECT doc_id,
         unnest(list_transform(generate_series(1, len(toks) - 1),
                               i -> toks[i] || ' ' || toks[i + 1])) AS g
  FROM base WHERE len(toks) >= 2
),
t2 AS (
  SELECT doc_id, CAST(max(c) AS DOUBLE) / CAST(sum(c) AS DOUBLE) AS top2gram_share
  FROM (SELECT doc_id, g, count(*) AS c FROM g2 GROUP BY doc_id, g) GROUP BY doc_id
),
g3 AS (
  SELECT doc_id,
         unnest(list_transform(generate_series(1, len(toks) - 2),
                               i -> toks[i] || ' ' || toks[i + 1] || ' ' || toks[i + 2])) AS g
  FROM base WHERE len(toks) >= 3
),
t3 AS (
  SELECT doc_id, CAST(max(c) AS DOUBLE) / CAST(sum(c) AS DOUBLE) AS top3gram_share
  FROM (SELECT doc_id, g, count(*) AS c FROM g3 GROUP BY doc_id, g) GROUP BY doc_id
)
SELECT base.doc_id, n_tokens, n_distinct,
       CASE WHEN n_tokens > 0
            THEN 1.0 - CAST(n_distinct AS DOUBLE) / CAST(n_tokens AS DOUBLE) END AS dup_word_frac,
       t2.top2gram_share, t3.top3gram_share
FROM base LEFT JOIN t2 USING (doc_id) LEFT JOIN t3 USING (doc_id)"""


def q_doc_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C4/Gopher-style keep/drop gate: length + repetition + stopword
    rules -> verdict and ordered failed-rule reasons per doc.

    The operator emits ``reasons`` as array<string> (fixed rule
    order) for programmatic consumers; the catalog surface joins it
    to one space-separated string because the driver's pandas
    canonicalizer cannot hash list-typed cells."""
    d = load_table(spark, sf_dir, "documents")
    out = TX.filter_decision(d, "text", "doc_id")
    return out.withColumn("reasons", F.array_join("reasons", " "))


SQL_DOC_FILTER = f"""{SQL_WORDS},
f AS (
  SELECT doc_id, len(toks) AS n_tokens,
         len(list_distinct(toks)) AS n_distinct,
         len(regexp_extract_all(lower(text), '\\b(the|a|of|to|and|is|in|it|on|for)\\b')) AS n_stopwords,
         CASE WHEN len(toks) > 0
              THEN CAST(list_sum(list_transform(toks, x -> length(x))) AS DOUBLE) / CAST(len(toks) AS DOUBLE)
              ELSE 0.0 END AS mean_token_len
  FROM w
),
g2 AS (
  SELECT doc_id,
         unnest(list_transform(generate_series(1, greatest(len(toks) - 1, 0)),
                               i -> toks[i] || ' ' || toks[i + 1])) AS g
  FROM w
),
t2 AS (
  SELECT doc_id, CAST(max(c) AS DOUBLE) / CAST(sum(c) AS DOUBLE) AS top2gram_share
  FROM (SELECT doc_id, g, count(*) AS c FROM g2 GROUP BY doc_id, g) GROUP BY doc_id
),
base AS (
  SELECT f.doc_id, f.n_tokens,
         CASE WHEN f.n_tokens > 0
              THEN CAST(f.n_stopwords AS DOUBLE) / CAST(f.n_tokens AS DOUBLE) ELSE 0.0 END AS stop_ratio,
         f.mean_token_len,
         CASE WHEN f.n_tokens > 0
              THEN 1.0 - CAST(f.n_distinct AS DOUBLE) / CAST(f.n_tokens AS DOUBLE) END AS dup_word_frac,
         t2.top2gram_share
  FROM f LEFT JOIN t2 USING (doc_id)
),
ruled AS (
  SELECT doc_id, n_tokens, dup_word_frac, top2gram_share,
         list_filter([
           CASE WHEN n_tokens < 25 THEN 'too_short' END,
           CASE WHEN dup_word_frac > 0.6 THEN 'too_repetitive' END,
           CASE WHEN top2gram_share > 0.2 THEN 'ngram_repetition' END,
           CASE WHEN mean_token_len < 3.0 OR mean_token_len > 10.0 THEN 'token_len_out_of_range' END,
           CASE WHEN stop_ratio < 0.02 THEN 'low_stopword_ratio' END
         ], x -> x IS NOT NULL) AS reasons
  FROM base
)
SELECT doc_id, n_tokens, dup_word_frac, top2gram_share,
       coalesce(array_to_string(reasons, ' '), '') AS reasons,
       len(reasons) = 0 AS keep
FROM ruled"""


def q_pii_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII detection + redaction: per-pattern counts against the
    progressively-redacted text plus the fully-redacted text itself
    (count-then-replace in fixed pattern order, so one substring is
    attributed to exactly one PII type)."""
    d = load_table(spark, sf_dir, "documents")
    return TX.pii_scan(d, "text", "doc_id")


def _pii_scan_sql() -> str:
    """Oracle mirror generated from the SAME pattern dict the Spark
    operator uses (sequential count-then-replace CTE chain; patterns
    are in the Java/RE2-shared regex subset)."""
    ctes = ["s0 AS (SELECT doc_id, text AS t FROM documents)"]
    names = list(TX.PII_PATTERNS)
    for i, name in enumerate(names):
        pat = TX.PII_PATTERNS[name].replace("'", "''")
        prev_counts = ", ".join(f"n_{n}" for n in names[:i])
        carry = f"{prev_counts}, " if prev_counts else ""
        ctes.append(
            f"s{i + 1} AS (SELECT doc_id, {carry}"
            f"len(regexp_extract_all(t, '{pat}')) AS n_{name}, "
            f"regexp_replace(t, '{pat}', '<{name}>', 'g') AS t FROM s{i})"
        )
    counts = ", ".join(f"n_{n}" for n in names)
    return (
        "WITH " + ",\n".join(ctes)
        + f"\nSELECT doc_id, {counts}, t AS redacted FROM s{len(names)}"
    )


SQL_PII_SCAN = _pii_scan_sql()


def q_stratified_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic stratified sampling: keep the 10% of each label
    stratum with the smallest md5(vec_id) — reproducible on any
    engine/partitioning (the distributed analog of a seeded
    per-stratum sample; a training pipeline uses this for balanced
    eval subsets). Emits per-label kept counts + the kept ids'
    checksum so the oracle verifies membership, not just size."""
    emb = load_table(spark, sf_dir, "embeddings")
    w = Window.partitionBy("label").orderBy(F.md5(F.col("vec_id").cast("string")), F.col("vec_id"))
    n_w = Window.partitionBy("label")
    d = emb.select("label", "vec_id").withColumn("_rn", F.row_number().over(w)).withColumn(
        "_n", F.count(F.lit(1)).over(n_w)
    )
    kept = d.filter(F.col("_rn") <= F.ceil(F.col("_n") * 0.1))
    return kept.groupBy("label").agg(
        F.count(F.lit(1)).alias("n_kept"),
        F.sum("vec_id").cast("long").alias("sum_ids"),
        F.md5(F.concat_ws(",", F.array_sort(F.collect_list("vec_id")))).alias("ids_digest"),
    )


SQL_STRATIFIED_SAMPLE = """
WITH r AS (
  SELECT label, vec_id,
         row_number() OVER (PARTITION BY label ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id) AS rn,
         count(*) OVER (PARTITION BY label) AS n
  FROM embeddings
),
kept AS (SELECT label, vec_id FROM r WHERE rn <= CAST(ceil(n * 0.1) AS BIGINT))
SELECT label,
       CAST(count(*) AS BIGINT) AS n_kept,
       CAST(sum(vec_id) AS BIGINT) AS sum_ids,
       md5(array_to_string(list_sort(list(vec_id)), ',')) AS ids_digest
FROM kept GROUP BY label"""


# The published 80/10/10 split rule — ONE definition, consumed by
# hash_split here AND every split-aware entry (leak_free_split et
# al.), so the rule cannot drift between entries.
_TRAIN_LT = 80
_VAL_LT = 90


def _split_of(bucket):  # Column -> Column
    return (
        F.when(bucket < _TRAIN_LT, F.lit("train"))
        .when(bucket < _VAL_LT, F.lit("val"))
        .otherwise(F.lit("test"))
    )


def _md5_bucket(col) -> "F.Column":
    """First 8 hex chars of an md5 string -> bucket in [0, 100)."""
    return F.conv(F.substring(col, 1, 8), 16, 10).cast("long") % 100


def _sql_split_case(hash_expr: str) -> str:
    """The ONE SQL definition of the published 80/10/10 split rule
    over an md5-hex expression — interpolated wherever an oracle needs
    it so the rule can never drift between entries."""
    bucket = f"('0x' || substr({hash_expr}, 1, 8))::BIGINT % 100"
    return (
        f"CASE WHEN {bucket} < {_TRAIN_LT} THEN 'train'\n"
        f"              WHEN {bucket} < {_VAL_LT} THEN 'val'\n"
        f"              ELSE 'test' END"
    )


def q_hash_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic train/val/test split (80/10/10) by md5 bucket of
    doc_id — the reproducible-split primitive of a training-data
    pipeline (same doc lands in the same split on any engine, any
    run, any partitioning; no RNG). Emits per (source, split) counts."""
    d = load_table(spark, sf_dir, "documents")
    split = _split_of(_md5_bucket(F.md5(F.col("doc_id").cast("string"))))
    return (
        d.select("source", split.alias("split"), "n_chars")
        .groupBy("source", "split")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_chars").cast("long").alias("sum_chars"),
        )
    )


SQL_HASH_SPLIT = f"""
SELECT source,
       {_sql_split_case("md5(CAST(doc_id AS VARCHAR))")} AS split,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(n_chars) AS BIGINT) AS sum_chars
FROM documents GROUP BY 1, 2"""


def q_unigram_logprob(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unigram-LM quality score (CCNet-style perplexity proxy): corpus
    word frequencies -> per-doc mean surprisal -log2(c/total).

    Determinism across engines: the per-token surprisal is quantized
    to integer micro-bits (round(lp*1e6) as BIGINT) and summed as
    BIGINT — integer addition is order-free, so the score is identical
    under any partitioning and any engine. One corpus-wide freq table
    (broadcast-sized vocabulary), one explode, two shuffles."""
    d = load_table(spark, sf_dir, "documents")
    toks = d.select("doc_id", F.explode(TX.tokens("text")).alias("tok"))
    freq = toks.groupBy("tok").agg(F.count(F.lit(1)).alias("c"))
    total = freq.agg(F.sum("c").alias("total"))
    lp = F.round(
        -F.log2(F.col("c").cast("double") / F.col("total").cast("double")) * 1e6
    ).cast("long")
    scored = toks.join(F.broadcast(freq), "tok").crossJoin(F.broadcast(total))
    return scored.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_tokens"),
        F.sum(lp).cast("long").alias("sum_surprisal_micro"),
        (F.sum(lp).cast("double") / F.count(F.lit(1))).alias("mean_surprisal_micro"),
    )


SQL_UNIGRAM_LOGPROB = f"""{SQL_WORDS},
t AS (SELECT doc_id, unnest(toks) AS tok FROM w),
f AS (SELECT tok, count(*) AS c FROM t GROUP BY tok),
tot AS (SELECT CAST(sum(c) AS BIGINT) AS total FROM f),
term AS (
  SELECT t.doc_id,
         CAST(round(-log2(CAST(f.c AS DOUBLE) / CAST(tot.total AS DOUBLE)) * 1e6) AS BIGINT) AS lp
  FROM t JOIN f USING (tok) CROSS JOIN tot
)
SELECT doc_id,
       CAST(count(*) AS BIGINT) AS n_tokens,
       CAST(sum(lp) AS BIGINT) AS sum_surprisal_micro,
       CAST(sum(lp) AS DOUBLE) / count(*) AS mean_surprisal_micro
FROM term GROUP BY doc_id"""


_MIX_ALPHA = 0.3
_MIX_TARGET = 100_000


def q_corpus_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-(source, lang) corpus composition: doc count, exact char
    and whitespace-token sums, mean tokens/doc. The inventory a
    mixing/sampling stage reads before deciding per-slice quotas."""
    d = load_table(spark, sf_dir, "documents")
    return d.groupBy("source", "lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_chars").alias("chars_sum"),
        F.sum(F.size(tokens("text"))).alias("toks_sum"),
        F.round(
            F.sum(F.size(tokens("text"))).cast("double") / F.count(F.lit(1)), 6
        ).alias("avg_toks"),
    )


SQL_CORPUS_ROLLUP = """
WITH w AS (
  SELECT source, lang, n_chars,
         len(list_filter(string_split_regex(lower(text), '\\s+'), x -> x <> '')) AS ntok
  FROM documents
)
SELECT source, lang, count(*) AS n_docs,
       CAST(sum(n_chars) AS BIGINT) AS chars_sum,
       CAST(sum(ntok) AS BIGINT) AS toks_sum,
       round(CAST(sum(ntok) AS DOUBLE) / count(*), 6) AS avg_toks
FROM w GROUP BY source, lang"""


def q_source_mixture(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temperature-scaled source sampling weights: w_i =
    n_i^alpha / sum_j n_j^alpha at alpha=0.3, plus the integer
    document quota for a 100k-doc epoch. The normalizer rides in as a
    broadcast 1-row agg (zero plan-time driver jobs)."""
    d = load_table(spark, sf_dir, "documents")
    counts = d.groupBy("source").agg(F.count(F.lit(1)).alias("n_docs"))
    powed = counts.withColumn("_p", F.pow(F.col("n_docs"), F.lit(_MIX_ALPHA)))
    norm = powed.agg(F.sum("_p").alias("_z"))
    out = powed.crossJoin(F.broadcast(norm))
    weight = F.round(F.col("_p") / F.col("_z"), 6)
    return out.select(
        "source",
        "n_docs",
        weight.alias("weight"),
        F.round(weight * _MIX_TARGET).cast("long").alias("quota_docs"),
    )


SQL_SOURCE_MIXTURE = f"""
WITH c AS (SELECT source, count(*) AS n_docs FROM documents GROUP BY source),
p AS (SELECT source, n_docs, pow(n_docs, {_MIX_ALPHA}) AS pw FROM c)
SELECT source, n_docs,
       round(pw / (SELECT sum(pw) FROM p), 6) AS weight,
       CAST(round(round(pw / (SELECT sum(pw) FROM p), 6) * {_MIX_TARGET}) AS BIGINT) AS quota_docs
FROM p"""


_PACK_SEQ_LEN = 512


def q_sequence_pack(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GPT-style sequence packing (concat-and-chunk): documents are
    concatenated in doc_id order and split every 512 tokens; each doc
    reports its global token offset and the first/last training
    sequence it lands in. The global cumsum runs through
    ``distributed_prefix_sum`` — a two-level scan (range partition →
    per-partition window → broadcast base offsets), NOT the
    single-partition ``Window.orderBy`` cumsum that can't scale. All
    integer arithmetic; the oracle replays the same math with a plain
    window cumsum (fine at sf0.01, the thing the operator exists to
    avoid at 100 TB)."""
    from wq_data_pipeline_spark.operators.scale import distributed_prefix_sum

    d = load_table(spark, sf_dir, "documents").select(
        "doc_id", F.size(tokens("text")).cast("long").alias("ntok")
    )
    d = distributed_prefix_sum(d, "doc_id", "ntok", out="start_offset")
    # zero-token docs contribute nothing and would emit an inverted
    # [first_seq > last_seq] span — drop them like pack_assignments
    d = d.filter(F.col("ntok") > 0)
    # integer division (div), not floor(double/..): offsets are exact
    # BIGINTs and stay exact past 2^53 where double floor would not
    first = F.expr(f"start_offset div {_PACK_SEQ_LEN}")
    last = F.expr(f"(start_offset + ntok - 1) div {_PACK_SEQ_LEN}")
    return d.select(
        "doc_id",
        "ntok",
        "start_offset",
        first.alias("first_seq"),
        last.alias("last_seq"),
        (last - first).alias("n_boundaries_crossed"),
    )


SQL_SEQUENCE_PACK = f"""
WITH w AS (
  SELECT doc_id,
         CAST(len(list_filter(string_split_regex(lower(text), '\\s+'), x -> x <> '')) AS BIGINT) AS ntok
  FROM documents
),
c AS (
  SELECT doc_id, ntok,
         CAST(COALESCE(sum(ntok) OVER (ORDER BY doc_id ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS start_offset
  FROM w
)
SELECT doc_id, ntok, start_offset,
       start_offset // {_PACK_SEQ_LEN} AS first_seq,
       (start_offset + ntok - 1) // {_PACK_SEQ_LEN} AS last_seq,
       (start_offset + ntok - 1) // {_PACK_SEQ_LEN}
            - start_offset // {_PACK_SEQ_LEN} AS n_boundaries_crossed
FROM c WHERE ntok > 0"""


def q_pack_assignments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Materialized packing map: one row per (training sequence, doc)
    span — which doc-local token range [tok_from, tok_to) fills each
    512-token sequence. This is the table a data loader actually
    consumes. The explode over a doc's sequence range is a narrow op
    with bounded fan-out (ntok/512 + 1 rows per doc); the heavy part
    remains the same two-level prefix sum as sequence_pack."""
    from wq_data_pipeline_spark.operators.scale import distributed_prefix_sum

    d = load_table(spark, sf_dir, "documents").select(
        "doc_id", F.size(tokens("text")).cast("long").alias("ntok")
    )
    d = distributed_prefix_sum(d, "doc_id", "ntok", out="start_offset")
    first = F.expr(f"start_offset div {_PACK_SEQ_LEN}")
    last = F.expr(f"(start_offset + ntok - 1) div {_PACK_SEQ_LEN}")
    spans = d.filter(F.col("ntok") > 0).select(
        "doc_id",
        "ntok",
        "start_offset",
        F.explode(F.sequence(first, last)).alias("seq_id"),
    )
    lo = F.greatest(F.col("start_offset"), F.col("seq_id") * _PACK_SEQ_LEN)
    hi = F.least(
        F.col("start_offset") + F.col("ntok"),
        (F.col("seq_id") + 1) * _PACK_SEQ_LEN,
    )
    return spans.select(
        "seq_id",
        "doc_id",
        (lo - F.col("start_offset")).alias("tok_from"),
        (hi - F.col("start_offset")).alias("tok_to"),
        (hi - lo).alias("n_toks"),
    )


SQL_PACK_ASSIGNMENTS = f"""
WITH w AS (
  SELECT doc_id,
         CAST(len(list_filter(string_split_regex(lower(text), '\\s+'), x -> x <> '')) AS BIGINT) AS ntok
  FROM documents
),
c AS (
  SELECT doc_id, ntok,
         CAST(COALESCE(sum(ntok) OVER (ORDER BY doc_id ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS start_offset
  FROM w
),
s AS (
  SELECT doc_id, ntok, start_offset,
         unnest(range(start_offset // {_PACK_SEQ_LEN},
                      (start_offset + ntok - 1) // {_PACK_SEQ_LEN} + 1)) AS seq_id
  FROM c WHERE ntok > 0
)
SELECT seq_id, doc_id,
       greatest(start_offset, seq_id * {_PACK_SEQ_LEN}) - start_offset AS tok_from,
       least(start_offset + ntok, (seq_id + 1) * {_PACK_SEQ_LEN}) - start_offset AS tok_to,
       least(start_offset + ntok, (seq_id + 1) * {_PACK_SEQ_LEN})
         - greatest(start_offset, seq_id * {_PACK_SEQ_LEN}) AS n_toks
FROM s"""


def q_ccnet_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCNet-style LM quality buckets (Wenzek et al. 2020 §4.3):
    rank each document inside its language by unigram-LM mean
    surprisal and cut into head/middle/tail terciles. Reuses the
    integer-micro surprisal convention of ``unigram_logprob`` (exact
    BIGINT sums -> order-free doubles), so the ntile ordering is
    bit-identical across engines; ties broken by doc_id.

    Scale shape: corpus freq table is broadcast-sized vocabulary; the
    per-lang ntile partitions on lang — at 100 TB swap the global
    ntile for approx-quantile cutpoints per lang (same output
    contract), as exact ranking of 10^10 docs per language is the one
    part that doesn't scale; documented, deliberate at test SF."""
    from pyspark.sql import Window

    d = load_table(spark, sf_dir, "documents")
    toks = d.select("doc_id", "lang", F.explode(tokens("text")).alias("tok"))
    freq = toks.groupBy("tok").agg(F.count(F.lit(1)).alias("c"))
    total = freq.agg(F.sum("c").alias("total"))
    lp = F.round(
        -F.log2(F.col("c").cast("double") / F.col("total").cast("double")) * 1e6
    ).cast("long")
    scored = toks.join(F.broadcast(freq), "tok").crossJoin(F.broadcast(total))
    per_doc = scored.groupBy("doc_id", "lang").agg(
        F.count(F.lit(1)).alias("n_tokens"),
        (F.sum(lp).cast("double") / F.count(F.lit(1))).alias(
            "mean_surprisal_micro"
        ),
    )
    w = Window.partitionBy("lang").orderBy(
        F.asc("mean_surprisal_micro"), F.asc("doc_id")
    )
    bucket = F.ntile(3).over(w)
    return per_doc.select(
        "doc_id",
        "lang",
        "n_tokens",
        "mean_surprisal_micro",
        bucket.alias("bucket"),
        F.when(bucket == 1, F.lit("head"))
        .when(bucket == 2, F.lit("middle"))
        .otherwise(F.lit("tail"))
        .alias("bucket_label"),
    )


SQL_CCNET_BUCKETS = """
WITH w AS (
  SELECT doc_id, lang,
         list_filter(string_split_regex(lower(text), '\\s+'), x -> x <> '') AS toks
  FROM documents
),
t AS (SELECT doc_id, lang, unnest(toks) AS tok FROM w),
f AS (SELECT tok, count(*) AS c FROM t GROUP BY tok),
tot AS (SELECT CAST(sum(c) AS BIGINT) AS total FROM f),
term AS (
  SELECT t.doc_id, t.lang,
         CAST(round(-log2(CAST(f.c AS DOUBLE) / CAST(tot.total AS DOUBLE)) * 1e6) AS BIGINT) AS lp
  FROM t JOIN f USING (tok) CROSS JOIN tot
),
m AS (
  SELECT doc_id, lang, CAST(count(*) AS BIGINT) AS n_tokens,
         CAST(sum(lp) AS DOUBLE) / count(*) AS mean_surprisal_micro
  FROM term GROUP BY doc_id, lang
)
SELECT doc_id, lang, n_tokens, mean_surprisal_micro,
       ntile(3) OVER (PARTITION BY lang ORDER BY mean_surprisal_micro ASC, doc_id ASC) AS bucket,
       CASE ntile(3) OVER (PARTITION BY lang ORDER BY mean_surprisal_micro ASC, doc_id ASC)
         WHEN 1 THEN 'head' WHEN 2 THEN 'middle' ELSE 'tail' END AS bucket_label
FROM m"""


_DSIR_B = 1024  # hashed feature buckets
_DSIR_TARGET = "src0"  # the "target distribution" source slice


def q_dsir_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DSIR importance weights (Xie et al. 2023, arXiv:2302.03169):
    hash word bigrams into 1024 buckets, estimate the target
    (source='src0') and raw feature distributions with add-1
    smoothing, and score every document by the sum of per-feature
    log importance ratios log2(p_b / q_b). Per-bucket ratios are
    micro-quantized BIGINTs, so per-doc sums are order-free exact.

    Scale shape: the bucket table is 1024 rows (broadcast); totals
    ride in as a broadcast 1-row agg (zero plan-time driver jobs).
    The ONLY corpus-sized work is one explode + one hash agg to
    per-(doc, source, bucket) counts; the bucket distributions AND the
    final per-doc score all re-read that aggregation's exchange
    (ReusedExchange — the bigram explode and md5 run once, not three
    times; the naive three-scan form measured 17.7 s vs ~2 s at
    sf0.1)."""
    from wq_data_pipeline_spark.operators.text import (
        gram_hash,
        shingles_from_tokens,
        tokens,
    )

    d = _docs_parallel(spark, sf_dir)  # md5-heavy explode: spread the 1-file scan
    # token array materialized first (one tokenize per doc, r12)
    feats = d.select(
        "doc_id", "source", tokens("text").alias("_toks")
    ).select(
        "doc_id", "source",
        F.explode(shingles_from_tokens(F.col("_toks"), 2)).alias("g"),
    ).select(
        "doc_id", "source", F.pmod(gram_hash(F.col("g")), F.lit(_DSIR_B)).alias("b")
    )
    pg = feats.groupBy("doc_id", "source", "b").agg(F.count(F.lit(1)).alias("n"))
    ca = pg.groupBy("b").agg(F.sum("n").alias("ca"))
    ct = (
        pg.filter(F.col("source") == _DSIR_TARGET)
        .groupBy("b")
        .agg(F.sum("n").alias("ct"))
    )
    bt = ca.join(ct, "b", "left").select(
        "b", "ca", F.coalesce("ct", F.lit(0).cast("long")).alias("ct")
    )
    tot = bt.agg(F.sum("ca").alias("ta"), F.sum("ct").alias("tt"))
    lr = F.round(
        (
            F.log2(
                (F.col("ct") + 1).cast("double")
                / (F.col("tt") + _DSIR_B).cast("double")
            )
            - F.log2(
                (F.col("ca") + 1).cast("double")
                / (F.col("ta") + _DSIR_B).cast("double")
            )
        )
        * 1e6
    ).cast("long")
    lrtab = bt.crossJoin(F.broadcast(tot)).select("b", lr.alias("lr"))
    return (
        pg.join(F.broadcast(lrtab), "b")
        .groupBy("doc_id", "source")
        .agg(
            F.sum("n").alias("n_feats"),
            F.sum(F.col("n") * F.col("lr")).cast("long").alias("sum_logratio_micro"),
        )
    )


SQL_DSIR_WEIGHTS = f"""
WITH w AS (
  SELECT doc_id, source,
         list_filter(string_split_regex(lower(text), '\\s+'), x -> x <> '') AS toks
  FROM documents
),
g AS (
  SELECT doc_id, source,
         unnest(list_transform(generate_series(1, len(toks) - 1),
                               i -> toks[i] || ' ' || toks[i + 1])) AS g
  FROM w WHERE len(toks) >= 2
),
f AS (
  SELECT doc_id, source,
         CAST(('0x' || substr(md5(g), 1, 15)) AS BIGINT) % {_DSIR_B} AS b
  FROM g
),
ca_ AS (SELECT b, count(*) AS ca FROM f GROUP BY b),
ct_ AS (SELECT b, count(*) AS ct FROM f WHERE source = '{_DSIR_TARGET}' GROUP BY b),
bt AS (SELECT ca_.b, ca, coalesce(ct, 0) AS ct FROM ca_ LEFT JOIN ct_ USING (b)),
tot AS (SELECT CAST(sum(ca) AS BIGINT) AS ta, CAST(sum(ct) AS BIGINT) AS tt FROM bt),
lr AS (
  SELECT b,
         CAST(round((log2(CAST(ct + 1 AS DOUBLE) / CAST(tt + {_DSIR_B} AS DOUBLE))
                   - log2(CAST(ca + 1 AS DOUBLE) / CAST(ta + {_DSIR_B} AS DOUBLE))) * 1e6) AS BIGINT) AS lr
  FROM bt CROSS JOIN tot
)
SELECT doc_id, source, CAST(count(*) AS BIGINT) AS n_feats,
       CAST(sum(lr) AS BIGINT) AS sum_logratio_micro
FROM f JOIN lr USING (b) GROUP BY doc_id, source"""


# ------------------------------------------------- BPE pair statistics

_BPE_TOPK = 20


def q_bpe_pair_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tokenizer-training primitive: the first BPE merge round
    (Sennrich et al. 2016) — count adjacent character pairs over the
    corpus vocabulary, weighted by word frequency, and rank the top
    merge candidates. Deterministic tie-break on the pair string.

    Scale shape: ONE explode to the (token -> freq) vocab hash agg
    (map-side combinable; the vocab is orders of magnitude smaller
    than the corpus), then pairs are generated per DISTINCT word —
    the per-word char work never touches corpus-sized data again.
    Top-k lands in a single TakeOrderedAndProject.

    Character indexing: Spark's ``length``/``substr`` index CODE
    POINTS (UTF8String counts whole code points, not UTF-16 units),
    exactly like DuckDB's ``len``/``substr`` — verified empirically
    for supplementary-plane input (emoji) and pinned by
    ``test_bpe_pairs_supplementary_plane``,
    so the pairing stays in lockstep with the oracle on any input."""
    d = _docs_parallel(spark, sf_dir)
    vocab = (
        d.select(F.explode(tokens("text")).alias("tok"))
        .groupBy("tok")
        .agg(F.count(F.lit(1)).alias("freq"))
    )
    pairs = vocab.filter(F.length("tok") >= 2).select(
        "freq",
        F.explode(
            F.transform(
                F.sequence(F.lit(1), F.length("tok") - 1),
                lambda i: F.col("tok").substr(i, F.lit(2)),
            )
        ).alias("pair"),
    )
    counts = pairs.groupBy("pair").agg(F.sum("freq").alias("pair_count"))
    # limit FIRST (TakeOrderedAndProject, distributed partial top-k),
    # then rank only the surviving <= topk rows — house style for
    # global top-k (heavy_hitters, bm25)
    top = counts.orderBy(F.desc("pair_count"), F.asc("pair")).limit(_BPE_TOPK)
    w = Window.orderBy(F.desc("pair_count"), F.asc("pair"))
    return top.withColumn("rank", F.row_number().over(w)).select(
        "pair", "pair_count", "rank"
    )


SQL_BPE_PAIR_COUNTS = f"""
WITH w AS (
  SELECT list_filter(string_split_regex(lower(text), '\\s+'), x -> x <> '') AS toks
  FROM documents
),
v AS (
  SELECT tok, count(*) AS freq
  FROM (SELECT unnest(toks) AS tok FROM w) GROUP BY tok
),
p AS (
  SELECT substr(tok, i, 2) AS pair, freq
  FROM (SELECT tok, freq, unnest(generate_series(1, len(tok) - 1)) AS i
        FROM v WHERE len(tok) >= 2)
),
c AS (SELECT pair, CAST(sum(freq) AS BIGINT) AS pair_count FROM p GROUP BY pair)
SELECT pair, pair_count, rank FROM (
  SELECT pair, pair_count,
         row_number() OVER (ORDER BY pair_count DESC, pair ASC) AS rank
  FROM c
) WHERE rank <= {_BPE_TOPK}"""


# deliberately smaller than the synthetic corpus's distinct-token count
# (31) so the coverage rate is a real fraction, not a constant 1.0
_VOCAB_TOP = 16


def q_vocab_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tokenizer-support report: what fraction of corpus token
    OCCURRENCES a top-k frequency vocabulary covers (the OOV-rate
    check run before fixing a vocab size). One corpus explode into the
    vocab hash agg; the top-k side is ``orderBy(...).limit(k)`` —
    TakeOrderedAndProject, a distributed partial top-k — NOT a global
    rank window, which would funnel a real (multi-million-row) vocab
    through one partition. Both branches re-read the vocab agg's
    exchange."""
    d = _docs_parallel(spark, sf_dir)
    vocab = (
        d.select(F.explode(tokens("text")).alias("tok"))
        .groupBy("tok")
        .agg(F.count(F.lit(1)).alias("freq"))
    )
    topv = vocab.orderBy(F.desc("freq"), F.asc("tok")).limit(_VOCAB_TOP)
    cov = topv.agg(F.sum("freq").alias("covered_occurrences"))
    tot = vocab.agg(
        F.sum("freq").alias("n_token_occurrences"),
        F.count(F.lit(1)).alias("n_distinct_tokens"),
    )
    return tot.crossJoin(F.broadcast(cov)).select(
        "n_token_occurrences",
        "n_distinct_tokens",
        "covered_occurrences",
        F.round(
            F.col("covered_occurrences").cast("double")
            / F.col("n_token_occurrences"),
            6,
        ).alias("coverage_rate"),
    )


SQL_VOCAB_COVERAGE = f"""
WITH w AS (
  SELECT list_filter(string_split_regex(lower(text), '\\s+'), x -> x <> '') AS toks
  FROM documents
),
v AS (
  SELECT tok, count(*) AS freq
  FROM (SELECT unnest(toks) AS tok FROM w) GROUP BY tok
),
r AS (
  SELECT tok, freq, row_number() OVER (ORDER BY freq DESC, tok ASC) AS rnk FROM v
)
SELECT CAST(sum(freq) AS BIGINT) AS n_token_occurrences,
       count(*) AS n_distinct_tokens,
       CAST(sum(CASE WHEN rnk <= {_VOCAB_TOP} THEN freq ELSE 0 END) AS BIGINT) AS covered_occurrences,
       round(CAST(sum(CASE WHEN rnk <= {_VOCAB_TOP} THEN freq ELSE 0 END) AS DOUBLE) / sum(freq), 6) AS coverage_rate
FROM r"""


# ---------------------------------------- classifier + blocklist filters

_QC_B = 256  # hashed feature buckets for the linear quality scorer


def q_quality_classifier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Model-based quality filter (the fastText-classifier stage of
    CCNet/DCLM-style pipelines, here a hashed-bag-of-words linear
    scorer with deterministic md5-derived weights standing in for
    trained ones — swap the weight table, keep the plan): every token
    hashes to one of 256 buckets, the doc score is the exact integer
    sum of per-occurrence bucket weights (milli fixed-point), and the
    keep decision is score > 0.

    Scale shape: the weight table is 256 rows (broadcast); the only
    corpus-sized work is one explode + one map-side-combinable hash
    agg. Classifier inference as a broadcast join — no UDF, no
    per-row model call."""
    d = _docs_parallel(spark, sf_dir)
    feats = d.select(
        "doc_id", F.explode(tokens("text")).alias("tok")
    ).select("doc_id", F.pmod(gram_hash(F.col("tok")), F.lit(_QC_B)).alias("b"))
    wtab = spark.range(_QC_B).select(
        F.col("id").alias("b"),
        (
            F.pmod(
                gram_hash(F.concat(F.lit("w:"), F.col("id").cast("string"))),
                F.lit(2001),
            )
            - 1000
        ).alias("w_milli"),
    )
    return (
        feats.join(F.broadcast(wtab), "b")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_tokens"),
            F.sum("w_milli").alias("score_milli"),
        )
        .withColumn("keep", F.col("score_milli") > 0)
    )


SQL_QUALITY_CLASSIFIER = f"""
WITH w AS (
  SELECT doc_id,
         list_filter(string_split_regex(lower(text), '\\s+'), x -> x <> '') AS toks
  FROM documents
),
f AS (
  SELECT doc_id,
         CAST(('0x' || substr(md5(unnest(toks)), 1, 15)) AS BIGINT) % {_QC_B} AS b
  FROM w
),
wt AS (
  SELECT b,
         CAST(('0x' || substr(md5('w:' || CAST(b AS VARCHAR)), 1, 15)) AS BIGINT) % 2001 - 1000 AS w_milli
  FROM (SELECT unnest(generate_series(0, {_QC_B - 1})) AS b)
)
SELECT doc_id, count(*) AS n_tokens,
       CAST(sum(w_milli) AS BIGINT) AS score_milli,
       CAST(sum(w_milli) AS BIGINT) > 0 AS keep
FROM f JOIN wt USING (b) GROUP BY doc_id"""


_BLOCKLIST = ("slow", "error", "broken")  # C4 §2.2-style term blocklist
# explicit IN-list (a 1-term tuple repr would emit a trailing comma,
# which is invalid SQL)
_BLOCKLIST_SQL = "(" + ", ".join(repr(t) for t in _BLOCKLIST) + ")"


def q_blocklist_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C4-style blocklist filter: drop any document containing a
    blocklisted token; report per-doc hit counts. Pure Column algebra
    over the token array — no explode, no shuffle beyond the scan;
    the blocklist compiles into the row expression (at a real 100-TB
    scale with a large list, swap to a broadcast-join on the token
    stream — the decision column is the same)."""
    d = load_table(spark, sf_dir, "documents")
    toks = tokens("text")
    hits = F.size(F.filter(toks, lambda t: t.isin(*_BLOCKLIST)))
    return d.select(
        "doc_id",
        F.size(toks).alias("n_tokens"),
        hits.alias("n_blocked"),
        (hits == 0).alias("keep"),
    )


SQL_BLOCKLIST_FILTER = f"""
WITH w AS (
  SELECT doc_id,
         list_filter(string_split_regex(lower(text), '\\s+'), x -> x <> '') AS toks
  FROM documents
)
SELECT doc_id, CAST(len(toks) AS INT) AS n_tokens,
       CAST(len(list_filter(toks, t -> t IN {_BLOCKLIST_SQL})) AS INT) AS n_blocked,
       len(list_filter(toks, t -> t IN {_BLOCKLIST_SQL})) = 0 AS keep
FROM w"""


def q_curation_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The corpus-curation funnel report: how many documents survive
    each stage of blocklist -> quality classifier -> exact dedup (the
    one-row summary every training-data pipeline prints per snapshot).
    Dedup runs AFTER the filters (count of distinct md5 among
    survivors), matching real pipeline ordering.

    Scale shape: one classifier explode + hash agg, one per-doc join,
    one global agg — every stage decision is a Column, so adding a
    stage never adds a scan."""
    d = _docs_parallel(spark, sf_dir)
    feats = d.select(
        "doc_id", F.explode(tokens("text")).alias("tok")
    ).select("doc_id", F.pmod(gram_hash(F.col("tok")), F.lit(_QC_B)).alias("b"))
    wtab = spark.range(_QC_B).select(
        F.col("id").alias("b"),
        (
            F.pmod(
                gram_hash(F.concat(F.lit("w:"), F.col("id").cast("string"))),
                F.lit(2001),
            )
            - 1000
        ).alias("w_milli"),
    )
    scores = (
        feats.join(F.broadcast(wtab), "b")
        .groupBy("doc_id")
        .agg(F.sum("w_milli").alias("score_milli"))
    )
    toks = tokens("text")
    flags = d.select(
        "doc_id",
        F.md5("text").alias("h"),
        F.size(F.filter(toks, lambda t: t.isin(*_BLOCKLIST))).alias("n_blocked"),
    ).join(scores, "doc_id", "left")
    pass_bl = F.col("n_blocked") == 0
    pass_cl = pass_bl & (F.coalesce(F.col("score_milli"), F.lit(0)) > 0)
    return flags.agg(
        F.count(F.lit(1)).alias("n_total"),
        F.sum(pass_bl.cast("long")).alias("n_after_blocklist"),
        F.sum(pass_cl.cast("long")).alias("n_after_classifier"),
        F.countDistinct(F.when(pass_cl, F.col("h"))).alias("n_after_dedup"),
    )


SQL_CURATION_FUNNEL = f"""
WITH w AS (
  SELECT doc_id, text,
         list_filter(string_split_regex(lower(text), '\\s+'), x -> x <> '') AS toks
  FROM documents
),
f AS (
  SELECT doc_id,
         CAST(('0x' || substr(md5(unnest(toks)), 1, 15)) AS BIGINT) % {_QC_B} AS b
  FROM w
),
wt AS (
  SELECT b,
         CAST(('0x' || substr(md5('w:' || CAST(b AS VARCHAR)), 1, 15)) AS BIGINT) % 2001 - 1000 AS w_milli
  FROM (SELECT unnest(generate_series(0, {_QC_B - 1})) AS b)
),
sc AS (
  SELECT doc_id, CAST(sum(w_milli) AS BIGINT) AS score_milli
  FROM f JOIN wt USING (b) GROUP BY doc_id
),
fl AS (
  SELECT w.doc_id, md5(w.text) AS h,
         len(list_filter(w.toks, t -> t IN {_BLOCKLIST_SQL})) AS n_blocked,
         coalesce(sc.score_milli, 0) AS score_milli
  FROM w LEFT JOIN sc ON w.doc_id = sc.doc_id
)
SELECT count(*) AS n_total,
       CAST(sum(CASE WHEN n_blocked = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_after_blocklist,
       CAST(sum(CASE WHEN n_blocked = 0 AND score_milli > 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_after_classifier,
       CAST(count(DISTINCT CASE WHEN n_blocked = 0 AND score_milli > 0 THEN h END) AS BIGINT) AS n_after_dedup
FROM fl"""


# --- token_budget_fill ------------------------------------------------------

# priority = type-token ratio in integer micro units: floor(1e6 *
# n_distinct / n_tokens). Integer floor-division is exact in DuckDB
# (//); Spark computes floor(double-division) of the same BIGINTs,
# which agrees because the true remainder is >= 1/n_tokens >> one ulp.
_TBF_SCALE = 1_000_000
# packed total-order key: (priority DESC, doc_id ASC) in one BIGINT.
# priority <= 1e6 (a ratio x 1e6) needs 20 bits, so shifting by 2^43
# leaves room for doc_id < 2^43 (~8.8e12) before the packing bleeds
# into the priority field — comfortably past the 10^10-row scale the
# prefix-sum design targets ((1e6) * 2^43 = 8.80e18 < 2^63-1)
_TBF_SHIFT = 1 << 43


def _tbf_priority(d: DataFrame) -> DataFrame:
    """(doc_id, n_tokens, ttr_micro) priority columns — the greedy
    fill's ordering basis, shared by token_budget_fill and
    mix_report so the composition can never diverge from the
    standalone entry."""
    toks = TX.tokens("text")
    return d.select(
        "doc_id",
        F.size(toks).cast("long").alias("n_tokens"),
        F.size(F.array_distinct(toks)).cast("long").alias("n_distinct"),
    ).withColumn(
        "ttr_micro",
        F.when(F.col("n_tokens") == 0, F.lit(0).cast("long")).otherwise(
            F.floor(
                (F.col("n_distinct") * F.lit(_TBF_SCALE)).cast("double")
                / F.col("n_tokens").cast("double")
            ).cast("long")
        ),
    )


def _tbf_order_key() -> F.Column:
    """Packed (priority DESC, doc_id ASC) BIGINT total-order key."""
    return (F.lit(_TBF_SCALE) - F.col("ttr_micro")) * F.lit(_TBF_SHIFT) + F.col(
        "doc_id"
    )


def q_token_budget_fill(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Greedy token-budget fill: take documents in (type-token-ratio
    DESC, doc_id ASC) order while the running token total stays
    within half the corpus tokens. One row per document with its
    inclusive cumulative position and the keep decision."""
    d = load_table(spark, sf_dir, "documents")
    base = _tbf_priority(d)
    keyed = base.withColumn("_ok", _tbf_order_key())
    cum = distributed_prefix_sum(
        keyed, value_col="n_tokens", order_col="_ok", out="_cum_before"
    )
    total = base.agg(F.sum("n_tokens").alias("_total"))
    return (
        cum.crossJoin(F.broadcast(total))
        .select(
            "doc_id",
            "n_tokens",
            "ttr_micro",
            (F.col("_cum_before") + F.col("n_tokens")).alias("cum_tokens"),
            (
                F.col("_cum_before") + F.col("n_tokens")
                <= F.floor(F.col("_total") / 2).cast("long")
            ).alias("selected"),
        )
    )


SQL_TOKEN_BUDGET_FILL = f"""{SQL_WORDS},
t AS (
  SELECT doc_id,
         CAST(len(toks) AS BIGINT) AS n_tokens,
         CAST(len(list_distinct(toks)) AS BIGINT) AS n_distinct
  FROM w
),
k AS (
  SELECT doc_id, n_tokens,
         CASE WHEN n_tokens = 0 THEN 0
              ELSE (n_distinct * {_TBF_SCALE}) // n_tokens END AS ttr_micro
  FROM t
),
c AS (
  SELECT doc_id, n_tokens, ttr_micro,
         sum(n_tokens) OVER (ORDER BY ttr_micro DESC, doc_id ASC
                             ROWS UNBOUNDED PRECEDING) AS cum_tokens,
         sum(n_tokens) OVER () AS total
  FROM k
)
SELECT doc_id, n_tokens, CAST(ttr_micro AS BIGINT) AS ttr_micro,
       CAST(cum_tokens AS BIGINT) AS cum_tokens,
       cum_tokens <= total // 2 AS selected
FROM c"""


# --- domain_rebalance -------------------------------------------------------

# target mixture: weight 1 + (source index mod 4) — a deterministic
# skewed target so the per-source rates genuinely differ (sources in
# the test tables are src0..srcN with uniform counts)
_DR_BUCKETS = 1_000_000


def _src_weight_col() -> "F.Column":
    """The ONE synthetic per-source target-weight rule (w = 1 + source
    index % 4, BIGINT 1..4) — shared by ``domain_rebalance`` and the
    r12 ``epoch_mix_plan`` so their mixture targets can never drift.
    Digit-less source names weight as index 0 on BOTH engines (a raw
    cast of '' would be NULL on Spark and a conversion ERROR in
    DuckDB — the engines must agree on arbitrary source names)."""
    return (
        F.lit(1)
        + F.coalesce(
            F.nullif(F.regexp_extract(F.col("source"), r"(\d+)", 1), F.lit("")),
            F.lit("0"),
        ).cast("long")
        % 4
    ).cast("long")


# SQL mirror of _src_weight_col — interpolate wherever an oracle
# weights sources.
_SQL_SRC_WEIGHT = (
    "CAST(1 + CAST(coalesce(nullif(regexp_extract(source, '(\\d+)', 1), ''),"
    " '0') AS BIGINT) % 4 AS BIGINT)"
)


def q_domain_rebalance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rebalance the corpus toward a target per-source mixture: source
    s with target weight w_s gets keep rate min(1, w_s*N / (sum_w *
    n_s)); each doc keeps iff its md5 bucket falls under the rate.
    Keep predicate is exact BIGINT cross-multiplication:
    bucket * sum_w * n_s < w_s * N * 1e6."""
    d = load_table(spark, sf_dir, "documents")
    w_expr = _src_weight_col()
    per_src = (
        d.groupBy("source")
        .agg(F.count(F.lit(1)).cast("long").alias("n_src"))
        .withColumn("w", w_expr)
    )
    totals = per_src.agg(
        F.sum("n_src").alias("n_total"), F.sum("w").alias("sum_w")
    )
    bucket = (
        F.conv(F.substring(F.md5(F.col("doc_id").cast("string")), 1, 8), 16, 10)
        .cast("long")
        % _DR_BUCKETS
    )
    return (
        d.select("doc_id", "source", bucket.alias("_bucket"))
        .join(F.broadcast(per_src), "source")
        .crossJoin(F.broadcast(totals))
        .select(
            "doc_id",
            "source",
            F.col("w").alias("target_w"),
            F.col("n_src"),
            F.least(
                F.lit(_DR_BUCKETS).cast("long"),
                F.floor(
                    (F.col("w") * F.col("n_total") * F.lit(_DR_BUCKETS)).cast(
                        "double"
                    )
                    / (F.col("sum_w") * F.col("n_src")).cast("double")
                ).cast("long"),
            ).alias("rate_micro"),
            (
                F.col("_bucket") * F.col("sum_w") * F.col("n_src")
                < F.col("w") * F.col("n_total") * F.lit(_DR_BUCKETS)
            ).alias("keep"),
        )
    )


SQL_DOMAIN_REBALANCE = f"""
WITH s AS (
  SELECT source, CAST(count(*) AS BIGINT) AS n_src,
         {_SQL_SRC_WEIGHT} AS w
  FROM documents GROUP BY source
),
t AS (SELECT CAST(sum(n_src) AS BIGINT) AS n_total,
             CAST(sum(w) AS BIGINT) AS sum_w FROM s),
b AS (
  SELECT doc_id, source,
         ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT % {_DR_BUCKETS} AS bucket
  FROM documents
)
SELECT b.doc_id, b.source, s.w AS target_w, s.n_src,
       least({_DR_BUCKETS}, (s.w * t.n_total * {_DR_BUCKETS}) // (t.sum_w * s.n_src)) AS rate_micro,
       b.bucket * t.sum_w * s.n_src < s.w * t.n_total * {_DR_BUCKETS} AS keep
FROM b JOIN s USING (source) CROSS JOIN t"""


# --- bpe_train --------------------------------------------------------------

_BPT_ROUNDS = 6


def _merge_fold(s_col: F.Column, lft: str, rgt: str) -> F.Column:
    """Greedy left-to-right single-pass BPE merge of the (lft, rgt)
    pair over a symbol array — a narrow array fold, no shuffle.
    ``F.get`` (not element_at) so the empty-accumulator probe yields
    NULL instead of an ANSI out-of-bounds error."""
    return F.aggregate(
        s_col,
        F.expr("CAST(array() AS ARRAY<STRING>)"),
        lambda acc, x: F.when(
            (F.get(acc, F.size(acc) - 1) == F.lit(lft)) & (x == F.lit(rgt)),
            F.concat(F.slice(acc, 1, F.size(acc) - 1), F.array(F.lit(lft + rgt))),
        ).otherwise(F.concat(acc, F.array(x))),
    )


def q_bpe_train(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BPE merge-rule training (Sennrich et al. 2016): run
    ``_BPT_ROUNDS`` merge rounds over the corpus vocabulary and emit
    the learned merge table — the multi-round generalization of
    ``bpe_pair_counts`` (which is round 1's candidate list).

    Round loop: count adjacent symbol pairs per DISTINCT word
    weighted by word frequency (one small hash agg — the corpus is
    never touched again after the vocab agg), pick the top pair
    (count DESC, pair ASC — deterministic), then apply the merge to
    every word's symbol list as a greedy left-to-right single pass
    via ``F.aggregate`` (array fold, narrow — no shuffle). The vocab
    is localCheckpoint'ed per round so plans stay flat (the
    connected-components discipline). This is exactly how
    distributed BPE trainers shard: per-distinct-word state, driver
    holds only the (tiny) merge table — scale-independent.

    The DuckDB oracle unrolls the rounds as CTE blocks; its merge
    application uses the gaps-and-islands selection (greedy = every
    even offset inside each run of consecutive match positions),
    which is provably equivalent to the fold: for lft != rgt match
    positions are never adjacent, and for lft == rgt a run of k
    matches is k+1 repeated symbols where both rules take positions
    run_start, run_start+2, ... Char indexing is UTF-16 vs
    code points across the engines — ASCII corpus assumption, same
    caveat as ``bpe_pair_counts``."""
    _, merges = _bpe_train_state(spark, sf_dir)
    return spark.createDataFrame(
        merges, "round INT, lft STRING, rgt STRING, merged STRING, pair_count BIGINT"
    )


def _bpe_train_state(
    spark: SparkSession, sf_dir: str
) -> tuple[DataFrame, list[tuple[int, str, str, str, int]]]:
    """The BPE trainer round loop shared by ``bpe_train`` (emits the
    merge table) and ``bpe_apply`` (tokenizes with the final vocab):
    returns (final vocab frame (tok, freq, s), merge list). One
    build per (session, corpus content): the vocab frame is a
    localCheckpoint and the merge list lives on the driver, so the
    state stashes whole (operators/stash.py, the r11 trainer-stash
    generalization)."""
    from wq_data_pipeline_spark.operators.stash import session_stash

    return session_stash(
        spark,
        sf_dir,
        "documents",
        ("bpe", _BPT_ROUNDS),
        lambda: _bpe_train_state_build(spark, sf_dir),
    )


def _bpe_train_state_build(
    spark: SparkSession, sf_dir: str
) -> tuple[DataFrame, list[tuple[int, str, str, str, int]]]:

    d = _docs_parallel(spark, sf_dir)
    chars = F.transform(
        F.sequence(F.lit(1), F.length("tok")),
        lambda i: F.col("tok").substr(i, F.lit(1)),
    )
    v = (
        d.select(F.explode(TX.tokens("text")).alias("tok"))
        .groupBy("tok")
        .agg(F.count(F.lit(1)).alias("freq"))
        .select("tok", "freq", chars.alias("s"))
        .localCheckpoint()
    )
    merges: list[tuple[int, str, str, str, int]] = []
    for r in range(1, _BPT_ROUNDS + 1):
        pair = F.transform(
            F.sequence(F.lit(0), F.size("s") - 2),
            lambda i: F.struct(
                F.get("s", i).alias("lft"), F.get("s", i + 1).alias("rgt")
            ),
        )
        top = (
            v.filter(F.size("s") >= 2)
            .select("freq", F.explode(pair).alias("p"))
            .groupBy("p.lft", "p.rgt")
            .agg(F.sum("freq").cast("long").alias("c"))
            .orderBy(F.desc("c"), F.asc("lft"), F.asc("rgt"))
            .limit(1)
            .collect()
        )
        if not top:
            break
        lft, rgt, c = top[0]["lft"], top[0]["rgt"], int(top[0]["c"])
        merges.append((r, lft, rgt, lft + rgt, c))
        v = v.withColumn("s", _merge_fold(F.col("s"), lft, rgt))
        # checkpoint every few rounds, not every round: the vocab is
        # tiny so recomputing 1-2 chained folds is cheaper than a
        # materialization job per round; unbounded chaining would
        # instead grow the fold expression tree (analysis cost).
        # (The final round is a multiple of 3, so the returned vocab
        # frame is always materialized.)
        if r % 3 == 0:
            v = v.localCheckpoint()
    return v, merges


def _bpe_chain_sql() -> str:
    """Shared DuckDB WITH-chain for the BPE oracles: vocab with
    per-char symbol lists, then ``_BPT_ROUNDS`` unrolled rounds of
    (pair counts -> top-1 -> islands-selected greedy merge ->
    rebuilt symbol lists), ending at v{N}/m{1..N}. Consumed by
    ``_bpe_train_sql`` (merge-table tail) and ``_bpe_apply_sql``
    (per-doc tokenize tail)."""
    blocks = []
    for r in range(1, _BPT_ROUNDS + 1):
        prev = f"v{r - 1}"
        blocks.append(f"""
p{r} AS MATERIALIZED (
  SELECT s[i] AS lft, s[i + 1] AS rgt, CAST(sum(freq) AS BIGINT) AS c
  FROM (SELECT freq, s, unnest(generate_series(1, len(s) - 1)) AS i
        FROM {prev} WHERE len(s) >= 2)
  GROUP BY 1, 2
),
m{r} AS MATERIALIZED (SELECT lft, rgt, c FROM p{r} ORDER BY c DESC, lft ASC, rgt ASC LIMIT 1),
e{r} AS MATERIALIZED (
  SELECT tok, freq, unnest(generate_series(1, len(s))) AS i, unnest(s) AS sym
  FROM {prev}
),
mt{r} AS (
  SELECT a.tok, a.i FROM e{r} a JOIN e{r} b ON a.tok = b.tok AND b.i = a.i + 1
  CROSS JOIN m{r} m WHERE a.sym = m.lft AND b.sym = m.rgt
),
sel{r} AS MATERIALIZED (
  SELECT tok, i FROM (
    SELECT tok, i, i - row_number() OVER (PARTITION BY tok ORDER BY i) AS g
    FROM mt{r}
  ) QUALIFY (i - min(i) OVER (PARTITION BY tok, g)) % 2 = 0
),
v{r} AS MATERIALIZED (
  SELECT e.tok, e.freq,
         list(CASE WHEN s1.i IS NOT NULL THEN m.lft || m.rgt ELSE e.sym END
              ORDER BY e.i) AS s
  FROM e{r} e
  LEFT JOIN m{r} m ON TRUE
  LEFT JOIN sel{r} s1 ON e.tok = s1.tok AND e.i = s1.i
  LEFT JOIN sel{r} s2 ON e.tok = s2.tok AND e.i = s2.i + 1
  WHERE s2.i IS NULL
  GROUP BY e.tok, e.freq
)""")
    return f"""{SQL_WORDS},
v0 AS MATERIALIZED (
  SELECT tok, CAST(count(*) AS BIGINT) AS freq,
         list_transform(generate_series(1, len(tok)), i -> substr(tok, i, 1)) AS s
  FROM (SELECT unnest(toks) AS tok FROM w) GROUP BY tok
),{",".join(blocks)}"""


def _bpe_train_sql() -> str:
    finals = "\n  UNION ALL\n  ".join(
        f"SELECT {r} AS round, lft, rgt, lft || rgt AS merged, c AS pair_count FROM m{r}"
        for r in range(1, _BPT_ROUNDS + 1)
    )
    return f"""{_bpe_chain_sql()}
SELECT CAST(round AS INT) AS round, lft, rgt, merged, pair_count FROM (
  {finals}
)"""


SQL_BPE_TRAIN = _bpe_train_sql()


def _vocab_token_counts(
    spark: SparkSession, sf_dir: str, keys: list[str]
) -> DataFrame:
    """The ONE tokenize-by-trained-vocab inference shape — explode
    words, pre-agg per (*keys, tok), broadcast-join the stashed
    vocab's per-word symbol counts — shared by ``bpe_apply``
    (keys=['doc_id']) and the r12 ``tokenizer_fertility``
    (keys=['lang']) so the two rollups of the same tokenizer can
    never tokenize differently. Returns (*keys, tok, k, n_sym);
    callers do their own rollup."""

    v, _ = _bpe_train_state(spark, sf_dir)
    d = _docs_parallel(spark, sf_dir)
    kw = (
        d.select(*keys, F.explode(TX.tokens("text")).alias("tok"))
        .groupBy(*keys, "tok")
        .agg(F.count(F.lit(1)).cast("long").alias("k"))
    )
    nsym = v.select("tok", F.size("s").cast("long").alias("n_sym"))
    return kw.join(F.broadcast(nsym), "tok")


def _sql_vocab_counts_cte(key: str, cte: str) -> str:
    """SQL mirror of ``_vocab_token_counts``'s pre-agg: per-(key, tok)
    word counts over the shared ``w`` tokenization CTE."""
    return (
        f"{cte} AS (\n"
        f"  SELECT {key}, tok, CAST(count(*) AS BIGINT) AS k\n"
        f"  FROM (SELECT {key}, unnest(toks) AS tok FROM w) GROUP BY 1, 2\n"
        f")"
    )


def q_bpe_apply(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tokenize WITH the learned BPE vocab — the apply half of the
    train->apply tokenizer loop: rerun the ``_BPT_ROUNDS`` trainer
    (same deterministic merges), then join every document's words to
    the final per-word symbol count and report per doc (n_words,
    n_bpe_tokens, tokens_per_word_micro). Compression under the
    learned merges is the signal a tokenizer-budget planner reads.

    Scale shape: the per-word symbol counts live in the vocab table
    (broadcast-sized), so applying the tokenizer to the corpus is a
    per-(doc, word) pre-agg + one broadcast join — the corpus never
    re-tokenizes per merge rule."""
    return (
        _vocab_token_counts(spark, sf_dir, ["doc_id"])
        .groupBy("doc_id")
        .agg(
            F.sum("k").cast("long").alias("n_words"),
            F.sum(F.col("k") * F.col("n_sym")).cast("long").alias("n_bpe_tokens"),
            F.floor(
                (F.sum(F.col("k") * F.col("n_sym")) * F.lit(1_000_000)).cast(
                    "double"
                )
                / F.sum("k").cast("double")
            )
            .cast("long")
            .alias("tokens_per_word_micro"),
        )
    )


def _bpe_apply_sql() -> str:
    return f"""{_bpe_chain_sql()},
{_sql_vocab_counts_cte("doc_id", "dw")}
SELECT dw.doc_id,
       CAST(sum(k) AS BIGINT) AS n_words,
       CAST(sum(k * len(v.s)) AS BIGINT) AS n_bpe_tokens,
       CAST((sum(k * len(v.s)) * 1000000) // sum(k) AS BIGINT) AS tokens_per_word_micro
FROM dw JOIN v{_BPT_ROUNDS} v ON dw.tok = v.tok
GROUP BY dw.doc_id"""


SQL_BPE_APPLY = _bpe_apply_sql()


# --- bigram_lm_score --------------------------------------------------------

_BLM_LAMBDA = 0.75  # interpolation weight (exact binary fraction)


def q_bigram_lm_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interpolated bigram-LM surprisal per document — the bigram
    upgrade of ``unigram_logprob`` (CCNet-style LM quality scoring):
    P(w2|w1) = 0.75 * c(w1,w2)/c(w1) + 0.25 * c(w2)/T, scored as mean
    -log2 P over the document's bigrams.

    Determinism convention (unigram_logprob precedent): per-bigram
    surprisal is quantized to integer micro-bits and summed as BIGINT
    (order-free under any partitioning); every float input to log2 is
    produced by the same division of the same exact integers in both
    engines, and 0.75/0.25 are exact binary fractions.

    Scale shape (the dsir_weights lesson): ONE per-(doc, bigram)
    pre-agg feeds everything — the corpus-wide bigram table rides on
    it as a second (bigram-key) hash agg, the unigram table is a
    broadcast-sized vocabulary, and the surprisal join multiplies by
    the stored multiplicity instead of re-exploding occurrences.
    Documents with < 2 tokens have no bigrams and drop out."""

    d = _docs_parallel(spark, sf_dir)
    toks = TX.tokens("text")
    bigrams = F.transform(
        F.sequence(F.lit(1), F.size("toks") - 1),
        lambda i: F.struct(
            F.element_at("toks", i).alias("w1"),
            F.element_at("toks", i + 1).alias("w2"),
        ),
    )
    base = d.select("doc_id", toks.alias("toks"))
    bgc = (
        base.filter(F.size("toks") >= 2)
        .select("doc_id", F.explode(bigrams).alias("b"))
        .groupBy("doc_id", "b.w1", "b.w2")
        .agg(F.count(F.lit(1)).cast("long").alias("k"))
        # two consumers (the corpus bigram table and the surprisal
        # join) would otherwise re-run the explode+agg subtree twice —
        # the dsir_weights lesson. Pin it once; on a real cluster swap
        # for reliable-store checkpoint/persist.
        .localCheckpoint()
    )
    bf = bgc.groupBy("w1", "w2").agg(F.sum("k").cast("long").alias("c12"))
    uf = (
        base.select(F.explode("toks").alias("tok"))
        .groupBy("tok")
        .agg(F.count(F.lit(1)).cast("long").alias("c"))
        # three consumers (u1, u2, total) — pin the vocabulary agg
        .localCheckpoint()
    )
    total = uf.agg(F.sum("c").cast("long").alias("total"))
    u1 = uf.select(F.col("tok").alias("w1"), F.col("c").alias("c1"))
    u2 = uf.select(F.col("tok").alias("w2"), F.col("c").alias("c2"))
    p = (
        F.lit(_BLM_LAMBDA) * (F.col("c12").cast("double") / F.col("c1"))
        + F.lit(1 - _BLM_LAMBDA) * (F.col("c2").cast("double") / F.col("total"))
    )
    lp = F.round(-F.log2(p) * 1e6).cast("long")
    scored = (
        bgc.join(bf, ["w1", "w2"])
        .join(F.broadcast(u1), "w1")
        .join(F.broadcast(u2), "w2")
        .crossJoin(F.broadcast(total))
        .select("doc_id", "k", lp.alias("lp"))
    )
    return scored.groupBy("doc_id").agg(
        F.sum("k").cast("long").alias("n_bigrams"),
        F.sum(F.col("k") * F.col("lp")).cast("long").alias("sum_surprisal_micro"),
        (
            F.sum(F.col("k") * F.col("lp")).cast("double") / F.sum("k")
        ).alias("mean_surprisal_micro"),
    )


SQL_BIGRAM_LM_SCORE = f"""{SQL_WORDS},
bg AS (
  SELECT doc_id, toks[i] AS w1, toks[i + 1] AS w2
  FROM (SELECT doc_id, toks, unnest(generate_series(1, len(toks) - 1)) AS i
        FROM w WHERE len(toks) >= 2)
),
bgc AS (
  SELECT doc_id, w1, w2, CAST(count(*) AS BIGINT) AS k FROM bg GROUP BY 1, 2, 3
),
bf AS (SELECT w1, w2, CAST(sum(k) AS BIGINT) AS c12 FROM bgc GROUP BY 1, 2),
uf AS (
  SELECT tok, CAST(count(*) AS BIGINT) AS c
  FROM (SELECT unnest(toks) AS tok FROM w) GROUP BY tok
),
t AS (SELECT CAST(sum(c) AS BIGINT) AS total FROM uf),
s AS (
  SELECT bgc.doc_id, bgc.k,
         CAST(round(-log2({_BLM_LAMBDA} * (CAST(bf.c12 AS DOUBLE) / u1.c)
                          + {1 - _BLM_LAMBDA} * (CAST(u2.c AS DOUBLE) / t.total))
                    * 1000000) AS BIGINT) AS lp
  FROM bgc
  JOIN bf USING (w1, w2)
  JOIN uf u1 ON bgc.w1 = u1.tok
  JOIN uf u2 ON bgc.w2 = u2.tok
  CROSS JOIN t
)
SELECT doc_id,
       CAST(sum(k) AS BIGINT) AS n_bigrams,
       CAST(sum(k * lp) AS BIGINT) AS sum_surprisal_micro,
       CAST(sum(k * lp) AS DOUBLE) / sum(k) AS mean_surprisal_micro
FROM s GROUP BY doc_id"""


# --- mix_report -------------------------------------------------------------


def q_mix_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end mix assembly report: the corpus-assembly layer
    COMPOSED — domain_rebalance's deterministic keep decision, then
    token_budget_fill's greedy priority fill over the surviving
    docs (budget = half the surviving tokens), rolled up per source:
    (n_docs, n_kept, n_selected, tokens_selected). This is the
    summary a pipeline operator reads before launching a training
    run. Same exact-integer conventions as the two stages it chains;
    the prefix sum is the distributed two-level scan."""
    keep = q_domain_rebalance(spark, sf_dir).select("doc_id", "source", "keep")
    d = load_table(spark, sf_dir, "documents")
    base = _tbf_priority(d)
    # pin the skinny (doc_id, source, tokens, ttr, keep) frame: it
    # feeds the survivor chain (prefix sum + total agg) AND the final
    # per-source rollup — without the cut the tokenize + rebalance
    # subtree re-executes per consumer (r12 plan audit: 16 scans)
    kept = pin(base.join(keep, "doc_id"), eager=False)
    surv = kept.filter(F.col("keep")).withColumn("_ok", _tbf_order_key())
    cum = distributed_prefix_sum(
        surv, value_col="n_tokens", order_col="_ok", out="_cum_before"
    )
    total = surv.agg(F.sum("n_tokens").alias("_total"))
    sel = (
        cum.crossJoin(F.broadcast(total))
        .withColumn(
            "selected",
            F.col("_cum_before") + F.col("n_tokens")
            <= F.floor(F.col("_total") / 2).cast("long"),
        )
        .select("doc_id", "selected")
    )
    return (
        kept.join(sel, "doc_id", "left")
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.sum(F.col("keep").cast("long")).cast("long").alias("n_kept"),
            F.sum(F.coalesce(F.col("selected").cast("long"), F.lit(0)))
            .cast("long")
            .alias("n_selected"),
            F.sum(
                F.when(F.coalesce("selected", F.lit(False)), F.col("n_tokens"))
                .otherwise(F.lit(0))
            )
            .cast("long")
            .alias("tokens_selected"),
        )
    )


SQL_MIX_REPORT = f"""{SQL_WORDS},
s AS (
  SELECT source, CAST(count(*) AS BIGINT) AS n_src,
         CAST(1 + CAST(coalesce(nullif(regexp_extract(source, '(\\d+)', 1), ''), '0') AS BIGINT) % 4 AS BIGINT) AS wt
  FROM documents GROUP BY source
),
t AS (SELECT sum(n_src) AS n_total, sum(wt) AS sum_w FROM s),
kd AS (
  SELECT w.doc_id, w.source,
         CAST(len(toks) AS BIGINT) AS n_tokens,
         CASE WHEN len(toks) = 0 THEN 0
              ELSE (CAST(len(list_distinct(toks)) AS BIGINT) * {_TBF_SCALE}) // len(toks)
         END AS ttr_micro,
         (('0x' || substr(md5(CAST(w.doc_id AS VARCHAR)), 1, 8))::BIGINT % {_DR_BUCKETS})
           * t.sum_w * s.n_src < s.wt * t.n_total * {_DR_BUCKETS} AS keep
  FROM w JOIN s USING (source) CROSS JOIN t
),
surv AS (
  SELECT doc_id, source, n_tokens,
         sum(n_tokens) OVER (ORDER BY ttr_micro DESC, doc_id ASC
                             ROWS UNBOUNDED PRECEDING) AS cum_tokens,
         sum(n_tokens) OVER () AS total
  FROM kd WHERE keep
),
sel AS (SELECT doc_id, cum_tokens <= total // 2 AS selected, n_tokens FROM surv)
SELECT kd.source,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(CASE WHEN kd.keep THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
       CAST(sum(CASE WHEN coalesce(sel.selected, FALSE) THEN 1 ELSE 0 END) AS BIGINT) AS n_selected,
       CAST(sum(CASE WHEN coalesce(sel.selected, FALSE) THEN kd.n_tokens ELSE 0 END) AS BIGINT) AS tokens_selected
FROM kd LEFT JOIN sel USING (doc_id)
GROUP BY kd.source"""


def q_corpus_shuffle(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic global training-order shuffle: every epoch-0 data
    loader wants the corpus in a reproducible pseudo-random order. The
    order key is md5(doc_id) (seedless, engine-portable, uniform) and
    the 0-based position comes from ``distributed_prefix_sum`` of a
    ones column — the two-level global rank (range partition →
    per-partition window → broadcast base offsets), NEVER a
    ``row_number() OVER (ORDER BY …)`` single-partition window, which
    is the canonical 100-TB global-sort trap. Emits (doc_id, source,
    n_tokens, shuffle_pos) ready for sequence packing downstream."""
    from wq_data_pipeline_spark.operators.scale import distributed_prefix_sum
    from wq_data_pipeline_spark.operators.text import tokens

    d = (
        load_table(spark, sf_dir, "documents")
        .select(
            "doc_id",
            "source",
            F.size(tokens("text")).cast("long").alias("n_tokens"),
            F.md5(F.col("doc_id").cast("string")).alias("_k"),
            F.lit(1).cast("long").alias("_one"),
        )
    )
    ranked = distributed_prefix_sum(d, "_k", "_one", out="shuffle_pos")
    return ranked.select("doc_id", "source", "n_tokens", "shuffle_pos")


SQL_CORPUS_SHUFFLE = """
SELECT doc_id, source,
       CAST(len(list_filter(string_split_regex(lower(text), '\\s+'),
                            t -> t <> '')) AS BIGINT) AS n_tokens,
       CAST(row_number() OVER (ORDER BY md5(CAST(doc_id AS VARCHAR))) - 1
            AS BIGINT) AS shuffle_pos
FROM documents"""


_LB_WIDTH = 8  # tokens per length bucket (bench corpus docs are 10-99 tokens)
_LB_CAP = 16  # bucket ids clamp at cap (overflow bucket)


def q_length_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Length-bucketed batching report: group documents into
    fixed-width token-length buckets (the standard padding-efficiency
    trick — batching similar-length sequences so pad-to-max waste
    stays small) and report per bucket the doc count, token sum, the
    bucket's max length, and the padding waste a pad-to-bucket-max
    batcher would pay. All-integer arithmetic; one explode-free scan
    + one hash agg (map-side combinable) — scales."""
    from wq_data_pipeline_spark.operators.text import tokens

    d = load_table(spark, sf_dir, "documents").select(
        F.size(tokens("text")).cast("long").alias("n_tokens")
    )
    # integer floor-div: Spark's / on longs is double division — use
    # floor() so both engines produce the same integer bucket id
    bucket = F.least(
        F.lit(_LB_CAP).cast("long"),
        F.floor(F.col("n_tokens") / F.lit(_LB_WIDTH)).cast("long"),
    )
    return (
        d.select(bucket.alias("bucket_id"), "n_tokens")
        .groupBy("bucket_id")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_tokens").alias("token_sum"),
            F.max("n_tokens").alias("max_len"),
            (F.count(F.lit(1)) * F.max("n_tokens") - F.sum("n_tokens")).alias(
                "pad_waste"
            ),
        )
    )


SQL_LENGTH_BUCKETS = f"""
WITH t AS (
  SELECT CAST(len(list_filter(string_split_regex(lower(text), '\\s+'),
                              x -> x <> '')) AS BIGINT) AS n_tokens
  FROM documents
)
SELECT least({_LB_CAP}, n_tokens // {_LB_WIDTH}) AS bucket_id,
       count(*) AS n_docs,
       CAST(sum(n_tokens) AS BIGINT) AS token_sum,
       max(n_tokens) AS max_len,
       CAST(count(*) * max(n_tokens) - sum(n_tokens) AS BIGINT) AS pad_waste
FROM t GROUP BY least({_LB_CAP}, n_tokens // {_LB_WIDTH})"""


def q_quality_deciles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Global quality deciles without a single-partition rank window:
    order docs by (n_tokens, doc_id), rank via the two-level
    ``distributed_prefix_sum`` (the corpus_shuffle machinery), decile
    = floor(10·rank/n). The curation use case: keep the top-k% by a
    quality score with an EXACT global cut, where ntile()/row_number()
    over a global ORDER BY would funnel the corpus through one task."""
    from wq_data_pipeline_spark.operators.scale import distributed_prefix_sum
    from wq_data_pipeline_spark.operators.text import tokens

    d = load_table(spark, sf_dir, "documents").select(
        "doc_id", F.size(tokens("text")).cast("long").alias("n_tokens")
    )
    # exact composite order key: score major, doc_id minor (both
    # BIGINT; doc_id < 1e10 in the fixtures and the replicas)
    d = d.withColumn(
        "_k", F.col("n_tokens") * F.lit(10_000_000_000) + F.col("doc_id")
    ).withColumn("_one", F.lit(1).cast("long"))
    ranked = distributed_prefix_sum(d, "_k", "_one", out="rank")
    total = ranked.agg(F.count(F.lit(1)).alias("_n"))
    return (
        ranked.crossJoin(F.broadcast(total))
        .select(
            "doc_id",
            "n_tokens",
            "rank",
            F.least(
                F.lit(9).cast("long"),
                F.floor(F.col("rank") * 10 / F.col("_n")).cast("long"),
            ).alias("decile"),
        )
    )


SQL_QUALITY_DECILES = """
WITH t AS (
  SELECT doc_id,
         CAST(len(list_filter(string_split_regex(lower(text), '\\s+'),
                              x -> x <> '')) AS BIGINT) AS n_tokens
  FROM documents
),
r AS (
  SELECT doc_id, n_tokens,
         CAST(row_number() OVER (ORDER BY n_tokens, doc_id) - 1 AS BIGINT) AS rank
  FROM t
)
SELECT doc_id, n_tokens, rank,
       least(9, CAST(floor(rank * 10.0 / (SELECT count(*) FROM r)) AS BIGINT)) AS decile
FROM r"""


# --------------------------------------------------------------------------
# Corpus statistics: per-source unigram KL drift vs the whole corpus
# --------------------------------------------------------------------------

def q_token_kl_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source token-distribution drift: KL(source ‖ corpus) over
    the unigram distributions — the standard domain-shift monitor for
    a mixed-source training corpus (flags a crawl slice whose word
    distribution departs from the mix).

    Determinism (bigram_lm_score precedent): each term's contribution
    c_st·log2((c_st·T_g)/(T_s·c_t)) is quantized to integer micro-bits
    and summed as BIGINT — order-free under any partitioning; every
    log2 input is the same IEEE division of the same exact integers
    in both engines.

    Scale shape: ONE per-(source, token) hash agg feeds everything —
    per-source totals, the corpus vocabulary, and the scoring join
    all ride on it (the dsir_weights lesson); the vocabulary and the
    20-row totals are broadcast."""

    d = _docs_parallel(spark, sf_dir)
    tc = (
        d.select("source", F.explode(TX.tokens("text")).alias("tok"))
        .groupBy("source", "tok")
        .agg(F.count(F.lit(1)).cast("long").alias("c_st"))
        .localCheckpoint()  # three consumers below
    )
    ts = tc.groupBy("source").agg(F.sum("c_st").cast("long").alias("t_s"))
    g = tc.groupBy("tok").agg(F.sum("c_st").cast("long").alias("c_t"))
    tot = g.agg(F.sum("c_t").cast("long").alias("t_g"))
    ratio = (F.col("c_st").cast("double") * F.col("t_g").cast("double")) / (
        F.col("t_s").cast("double") * F.col("c_t").cast("double")
    )
    contrib = F.round(F.col("c_st") * F.log2(ratio) * 1e6).cast("long")
    return (
        tc.join(F.broadcast(g), "tok")
        .join(F.broadcast(ts), "source")
        .crossJoin(F.broadcast(tot))
        .select("source", "t_s", contrib.alias("u"))
        .groupBy("source")
        .agg(
            F.max("t_s").alias("n_tokens"),
            F.count(F.lit(1)).cast("long").alias("n_terms"),
            F.sum("u").cast("long").alias("kl_micro_sum"),
            F.round(
                F.sum("u").cast("double") / 1e6 / F.max("t_s"), 6
            ).alias("kl_bits"),
        )
    )


SQL_TOKEN_KL_DRIFT = """
WITH w AS (SELECT source,
            list_filter(string_split_regex(lower(text), '\\s+'), x -> x <> '') AS toks
           FROM documents),
tc AS (SELECT source, tok, CAST(count(*) AS BIGINT) AS c_st
       FROM (SELECT source, unnest(toks) AS tok FROM w) GROUP BY source, tok),
ts AS (SELECT source, CAST(sum(c_st) AS BIGINT) AS t_s FROM tc GROUP BY source),
g  AS (SELECT tok, CAST(sum(c_st) AS BIGINT) AS c_t FROM tc GROUP BY tok),
tot AS (SELECT CAST(sum(c_t) AS BIGINT) AS t_g FROM g),
scored AS (
  SELECT tc.source, ts.t_s,
         CAST(round(tc.c_st * log2((CAST(tc.c_st AS DOUBLE) * CAST(t_g AS DOUBLE))
                                   / (CAST(ts.t_s AS DOUBLE) * CAST(g.c_t AS DOUBLE)))
                    * 1e6) AS BIGINT) AS u
  FROM tc JOIN g USING (tok) JOIN ts USING (source) CROSS JOIN tot)
SELECT source, max(t_s) AS n_tokens, CAST(count(*) AS BIGINT) AS n_terms,
       CAST(sum(u) AS BIGINT) AS kl_micro_sum,
       round(CAST(sum(u) AS DOUBLE) / 1e6 / max(t_s), 6) AS kl_bits
FROM scored GROUP BY source"""


# --------------------------------------------------------------------------
# Corpus statistics: Zipf rank-frequency slope per source
# --------------------------------------------------------------------------

def q_zipf_slope(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Zipf's-law fit per source: least-squares slope of ln(freq) vs
    ln(rank) over the top-100 tokens — a text-naturalness diagnostic
    (natural language sits near -1; templated/spammy sources drift).

    Determinism: ln(rank) and ln(count) are quantized to integer
    micro-units per term (inputs are exact integers, so both engines
    feed identical doubles to ln); all regression sums are then exact
    BIGINT, and the closed-form slope is one double division of
    identical operands. Top-100 cap keeps every BIGINT product far
    from overflow at any corpus size."""

    d = _docs_parallel(spark, sf_dir)
    tc = (
        d.select("source", F.explode(TX.tokens("text")).alias("tok"))
        .groupBy("source", "tok")
        .agg(F.count(F.lit(1)).cast("long").alias("c"))
    )
    w = Window.partitionBy("source").orderBy(F.desc("c"), F.asc("tok"))
    r = (
        tc.select(
            "source", "tok", "c", F.row_number().over(w).alias("rank")
        ).filter(F.col("rank") <= 100)
    )
    lx = F.round(F.log(F.col("rank").cast("double")) * 1e6).cast("long")
    ly = F.round(F.log(F.col("c").cast("double")) * 1e6).cast("long")
    t = r.select("source", "tok", "c", "rank", lx.alias("lx"), ly.alias("ly"))
    a = t.groupBy("source").agg(
        F.count(F.lit(1)).cast("long").alias("n_terms"),
        F.max(F.when(F.col("rank") == 1, F.col("tok"))).alias("top_token"),
        F.max(F.when(F.col("rank") == 1, F.col("c"))).alias("top_count"),
        F.sum("lx").cast("long").alias("sx"),
        F.sum("ly").cast("long").alias("sy"),
        F.sum(F.col("lx") * F.col("ly")).cast("long").alias("sxy"),
        F.sum(F.col("lx") * F.col("lx")).cast("long").alias("sxx"),
    )
    den = (F.col("n_terms") * F.col("sxx") - F.col("sx") * F.col("sx")).cast("double")
    num = (F.col("n_terms") * F.col("sxy") - F.col("sx") * F.col("sy")).cast("double")
    return a.select(
        "source",
        "n_terms",
        "top_token",
        "top_count",
        F.when(den != 0, F.round(num / den, 6)).alias("zipf_slope"),
    )


SQL_ZIPF_SLOPE = """
WITH w AS (SELECT source,
            list_filter(string_split_regex(lower(text), '\\s+'), x -> x <> '') AS toks
           FROM documents),
tc AS (SELECT source, tok, CAST(count(*) AS BIGINT) AS c
       FROM (SELECT source, unnest(toks) AS tok FROM w) GROUP BY source, tok),
rk AS (SELECT source, tok, c,
              row_number() OVER (PARTITION BY source ORDER BY c DESC, tok ASC) AS rank
       FROM tc),
t AS (SELECT source, tok, c, rank,
             CAST(round(ln(CAST(rank AS DOUBLE)) * 1e6) AS BIGINT) AS lx,
             CAST(round(ln(CAST(c AS DOUBLE)) * 1e6) AS BIGINT) AS ly
      FROM rk WHERE rank <= 100),
a AS (SELECT source, CAST(count(*) AS BIGINT) AS n_terms,
             max(CASE WHEN rank = 1 THEN tok END) AS top_token,
             CAST(max(CASE WHEN rank = 1 THEN c END) AS BIGINT) AS top_count,
             CAST(sum(lx) AS BIGINT) AS sx, CAST(sum(ly) AS BIGINT) AS sy,
             CAST(sum(lx * ly) AS BIGINT) AS sxy,
             CAST(sum(lx * lx) AS BIGINT) AS sxx
      FROM t GROUP BY source)
SELECT source, n_terms, top_token, top_count,
       CASE WHEN n_terms * sxx - sx * sx <> 0
            THEN round(CAST(n_terms * sxy - sx * sy AS DOUBLE)
                       / CAST(n_terms * sxx - sx * sx AS DOUBLE), 6)
       END AS zipf_slope
FROM a"""


# --------------------------------------------------------------------------
# token_entropy — per-document unigram Shannon entropy
# --------------------------------------------------------------------------


def q_token_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document token-distribution entropy: H = log2(n) -
    (sum_t c_t*log2(c_t)) / n over the doc's token counts, plus the
    normalized form H / log2(u) (u = distinct tokens; 0 when u = 1).
    Low-entropy docs are boilerplate/repetition candidates — the
    quality-filter companion to the Gopher repetition stats.

    Exactness: the only cross-engine-order-sensitive piece is the
    sum over distinct tokens, so each term is quantized FIRST
    (round(c*log2(c)*1e9) as BIGINT — deterministic per (c) in both
    engines) and the integer sum is order-free; H is then one fixed
    expression over exact ints, rounded to 6dp.

    Scale: explode -> two chained hash aggs, both map-side
    combinable; no joins, no windows."""
    d = _docs_parallel(spark, sf_dir)
    tok = d.select("doc_id", F.explode(tokens("text")).alias("t"))
    cnt = tok.groupBy("doc_id", "t").agg(F.count(F.lit(1)).alias("c"))
    term_q = F.round(F.col("c") * F.log2("c") * F.lit(1e9)).cast("long")
    agg = cnt.groupBy("doc_id").agg(
        F.sum("c").alias("n_tokens"),
        F.count(F.lit(1)).alias("n_unique"),
        F.sum(term_q).alias("_sq"),
    )
    ent = F.log2(F.col("n_tokens").cast("double")) - (
        F.col("_sq") / F.lit(1e9)
    ) / F.col("n_tokens")
    norm = F.when(
        F.col("n_unique") > 1,
        F.round(ent / F.log2(F.col("n_unique").cast("double")), 6),
    ).otherwise(F.lit(0.0))
    return agg.select(
        "doc_id",
        "n_tokens",
        "n_unique",
        F.round(ent, 6).alias("entropy"),
        norm.alias("norm_entropy"),
    )


SQL_TOKEN_ENTROPY = f"""{SQL_WORDS},
cnt AS (
  SELECT doc_id, t, count(*) AS c
  FROM (SELECT doc_id, unnest(toks) AS t FROM w)
  GROUP BY doc_id, t
),
agg AS (
  SELECT doc_id, CAST(sum(c) AS BIGINT) AS n_tokens, count(*) AS n_unique,
         sum(CAST(round(c * log2(c) * 1e9) AS BIGINT)) AS sq
  FROM cnt GROUP BY doc_id
)
SELECT doc_id, n_tokens, n_unique,
       round(log2(CAST(n_tokens AS DOUBLE)) - (sq / 1e9) / n_tokens, 6) AS entropy,
       CASE WHEN n_unique > 1
            THEN round((log2(CAST(n_tokens AS DOUBLE)) - (sq / 1e9) / n_tokens)
                       / log2(CAST(n_unique AS DOUBLE)), 6)
            ELSE 0.0 END AS norm_entropy
FROM agg"""


# --------------------------------------------------------------------------
# ngram_novelty — corpus-order first-occurrence novelty per document
# --------------------------------------------------------------------------

_NOV_N = 8  # same gram width as the exact-substring dup-span family


def q_ngram_novelty(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-order {_NOV_N}-gram novelty: for each document, the
    fraction of its DISTINCT word 8-grams whose first corpus
    occurrence (min doc_id) is this document — the duplication-
    pressure metric an incremental crawl watches (novelty trending
    to 0 means the crawl is re-reading known content). Docs shorter
    than 8 tokens carry no grams and are not emitted (both engines).

    Exactness: counts and one final division of exact integers,
    rounded 6dp. Scale: one explode of per-doc DISTINCT grams ->
    gram min-agg (map-side combinable) -> skinny equi-join back ->
    per-doc agg. Linear; the gram join shuffles (gram, doc) ids
    only, never text."""
    d = _docs_parallel(spark, sf_dir)
    # token array materialized first (one tokenize per doc, r12)
    grams = d.select("doc_id", tokens("text").alias("_toks")).select(
        "doc_id",
        F.explode(
            F.array_distinct(shingles_from_tokens(F.col("_toks"), _NOV_N))
        ).alias("g"),
    )
    first = grams.groupBy("g").agg(F.min("doc_id").alias("_first_doc"))
    return (
        grams.join(first, "g")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_grams"),
            F.sum(
                F.when(F.col("_first_doc") < F.col("doc_id"), 1).otherwise(0)
            ).alias("n_seen_earlier"),
        )
        .select(
            "doc_id",
            "n_grams",
            "n_seen_earlier",
            F.round(
                F.lit(1.0)
                - F.col("n_seen_earlier").cast("double")
                / F.col("n_grams").cast("double"),
                6,
            ).alias("novelty"),
        )
    )


_NOV_GRAM_SQL = (
    "list_distinct(CASE WHEN len(toks) >= 8 THEN "
    "list_transform(generate_series(1, len(toks) - 7), i -> "
    + " || ' ' || ".join(f"toks[i + {j}]" for j in range(8)).replace(
        "toks[i + 0]", "toks[i]"
    )
    + ") ELSE [] END)"
)

SQL_NGRAM_NOVELTY = f"""{SQL_WORDS},
g AS (SELECT doc_id, unnest({_NOV_GRAM_SQL}) AS g FROM w),
fst AS (SELECT g, min(doc_id) AS first_doc FROM g GROUP BY g)
SELECT g.doc_id, count(*) AS n_grams,
       CAST(sum(CASE WHEN fst.first_doc < g.doc_id THEN 1 ELSE 0 END) AS BIGINT)
         AS n_seen_earlier,
       round(1.0 - CAST(sum(CASE WHEN fst.first_doc < g.doc_id THEN 1 ELSE 0 END) AS DOUBLE)
                   / CAST(count(*) AS DOUBLE), 6) AS novelty
FROM g JOIN fst USING (g)
GROUP BY g.doc_id"""


# --- leak_free_split --------------------------------------------------------
# The 80/10/10 bucket rule (_split_of/_md5_bucket/_sql_split_case) is
def q_leak_free_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dup-group-aware train/val/test split + leakage audit. Every doc
    carries (a) its exact-dup group key — the order-insensitive word-set
    fingerprint shared by content duplicates — and (b) the naive
    per-doc split ``hash_split`` would assign from md5(doc_id). The
    GROUP split is bucketed from the group fingerprint itself, so all
    members of a dup group land in one split by construction (the law
    pinned by ``test_leak_free_split_matches_python_brute_force``); a group is *naive-leaky*
    if its members' per-doc splits disagree — exactly the groups a
    doc-id split would tear across train/test, turning held-out docs
    into memorized training dupes.

    Per split: group/doc/char counts, docs in multi-doc groups, and
    the naive-leaky group count. Scale: one fingerprint hash agg (the
    same shuffle ``exact_dedup`` pays) feeding a 3-row rollup; the
    corpus text never joins back and nothing is collected."""
    d = load_table(spark, sf_dir, "documents")
    naive = _split_of(
        _md5_bucket(F.md5(F.col("doc_id").cast("string")))
    )
    per_doc = d.select(
        doc_fingerprint("text").alias("fp"),
        naive.alias("naive_split"),
        "n_chars",
    )
    # size(collect_set) instead of countDistinct: the set is bounded at
    # 3 splits so state is O(1), and it avoids the distinct-agg expand
    # (one exchange fewer — (fp, split) pre-shuffle eliminated)
    g = per_doc.groupBy("fp").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_chars").cast("long").alias("sum_chars"),
        F.size(F.collect_set("naive_split")).cast("long").alias("n_naive_splits"),
    )
    return (
        g.select(
            _split_of(_md5_bucket(F.col("fp"))).alias("split"),
            "n_docs",
            "sum_chars",
            "n_naive_splits",
        )
        .groupBy("split")
        .agg(
            F.count(F.lit(1)).alias("n_groups"),
            F.sum("n_docs").cast("long").alias("n_docs"),
            F.sum("sum_chars").cast("long").alias("sum_chars"),
            F.sum(F.when(F.col("n_docs") > 1, F.col("n_docs")).otherwise(F.lit(0)))
            .cast("long")
            .alias("n_dup_docs"),
            F.sum((F.col("n_naive_splits") > 1).cast("long")).alias(
                "n_naive_leaky_groups"
            ),
        )
        .orderBy("split")
    )


# coalesce(...,'') mirrors the engine's concat_ws NULL rule: a NULL-text
# doc fingerprints as md5('') on BOTH sides (same group as empty text),
# so the entry is NULL-safe by construction, not by fixture luck.
SQL_LEAK_FREE_SPLIT = f"""{SQL_WORDS},
pd AS (
  SELECT md5(coalesce(array_to_string(list_sort(list_distinct(toks)), ' '), '')) AS fp,
         {_sql_split_case("md5(CAST(doc_id AS VARCHAR))")} AS naive_split,
         n_chars
  FROM w
),
g AS (
  SELECT fp,
         CAST(count(*) AS BIGINT) AS n_docs,
         CAST(sum(n_chars) AS BIGINT) AS sum_chars,
         CAST(count(DISTINCT naive_split) AS BIGINT) AS n_naive_splits
  FROM pd GROUP BY fp
)
SELECT {_sql_split_case("fp")} AS split,
       CAST(count(*) AS BIGINT) AS n_groups,
       CAST(sum(n_docs) AS BIGINT) AS n_docs,
       CAST(sum(sum_chars) AS BIGINT) AS sum_chars,
       CAST(sum(CASE WHEN n_docs > 1 THEN n_docs ELSE 0 END) AS BIGINT) AS n_dup_docs,
       CAST(sum(CASE WHEN n_naive_splits > 1 THEN 1 ELSE 0 END) AS BIGINT)
         AS n_naive_leaky_groups
FROM g GROUP BY 1 ORDER BY 1"""


# --- domain_top_cap ---------------------------------------------------------

_CAP = 15  # binds at every SF (25 docs/source at sf0.01, 250 at sf0.1)


def q_domain_top_cap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source hard cap: keep the top-``_CAP`` docs per source by
    rank (n_chars DESC, doc_id ASC tiebreak — deterministic on any
    engine), report per source what survived and the admission cutoff.
    This is the RefinedWeb/C4-style per-domain truncation that stops a
    single crawl domain from dominating the mix — the CAP complement
    of ``domain_rebalance``'s rate-based keep. Real deployments swap
    the rank key for a quality score; the window/report shape is
    identical.

    Scale: ONE window sort partitioned by source (parallelism scales
    with source cardinality; a skewed mega-source is exactly the
    ``key_skew_profile`` → salting case), and the rollup groups by the
    window's own partition key so it reuses that exchange."""
    d = load_table(spark, sf_dir, "documents")
    w = Window.partitionBy("source").orderBy(F.desc("n_chars"), F.asc("doc_id"))
    r = d.select(
        "source", "doc_id", "n_chars", F.row_number().over(w).alias("rk")
    )
    kept = F.col("rk") <= _CAP
    return (
        r.groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum(kept.cast("long")).alias("n_kept"),
            F.sum((~kept).cast("long")).alias("n_dropped"),
            F.sum(F.when(kept, F.col("n_chars"))).cast("long").alias("kept_chars"),
            F.sum(F.when(~kept, F.col("n_chars")))
            .cast("long")
            .alias("dropped_chars"),
            F.min(F.when(kept, F.col("n_chars"))).cast("long").alias("cutoff_chars"),
        )
        .orderBy("source")
    )


SQL_DOMAIN_TOP_CAP = f"""
WITH r AS (
  SELECT source, doc_id, n_chars,
         row_number() OVER (PARTITION BY source
                            ORDER BY n_chars DESC, doc_id ASC) AS rk
  FROM documents
)
SELECT source,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(CASE WHEN rk <= {_CAP} THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
       CAST(sum(CASE WHEN rk > {_CAP} THEN 1 ELSE 0 END) AS BIGINT) AS n_dropped,
       CAST(sum(CASE WHEN rk <= {_CAP} THEN n_chars END) AS BIGINT) AS kept_chars,
       CAST(sum(CASE WHEN rk > {_CAP} THEN n_chars END) AS BIGINT) AS dropped_chars,
       CAST(min(CASE WHEN rk <= {_CAP} THEN n_chars END) AS BIGINT) AS cutoff_chars
FROM r GROUP BY source ORDER BY source"""


# --- corpus_manifest ----------------------------------------------------------


def q_corpus_manifest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reproducibility manifest — the checksummed per-(source, split)
    inventory a dataset release publishes (dataset cards / integrity
    audits): doc and char counts plus an ORDER-FREE content checksum
    (bit_xor of each doc's 60-bit md5 content hash, with the min/max
    hash as corroborating range facts). Any engine, any partitioning,
    any row order reproduces the same manifest; two corpus copies
    differ iff some manifest row differs (up to xor collisions).

    The order-free design IS the scale story: the obvious checksum —
    md5 over doc hashes concatenated in doc_id order — needs an
    ordered per-group gather (collect_list: unbounded state, one
    reduce task per group). bit_xor is commutative/associative, so it
    map-side combines like any sum: one hash agg over the corpus,
    O(1) state per group, mergeable across files/shards (the same
    property that makes it the standard content-set digest in
    replication anti-entropy checks).

    Splits are ``hash_split``'s published md5(doc_id) rule, so the
    manifest documents exactly the release that entry defines.

    Reference scope: the reference engine has no corpus/release
    surface; extends the curation family per the round brief."""
    d = load_table(spark, sf_dir, "documents")
    h = F.conv(F.substring(F.md5(F.col("text")), 1, 15), 16, 10).cast("long")
    return (
        d.select(
            "source",
            _split_of(
                _md5_bucket(F.md5(F.col("doc_id").cast("string")))
            ).alias("split"),
            "n_chars",
            h.alias("h"),
        )
        .groupBy("source", "split")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_chars").cast("long").alias("sum_chars"),
            F.expr("bit_xor(h)").alias("checksum_xor"),
            F.min("h").alias("h_min"),
            F.max("h").alias("h_max"),
        )
        .orderBy("source", "split")
    )


SQL_CORPUS_MANIFEST = f"""
WITH d AS (
  SELECT source,
         {_sql_split_case("md5(CAST(doc_id AS VARCHAR))")} AS split,
         n_chars,
         ('0x' || substr(md5(text), 1, 15))::BIGINT AS h
  FROM documents
)
SELECT source, split,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(n_chars) AS BIGINT) AS sum_chars,
       CAST(bit_xor(h) AS BIGINT) AS checksum_xor,
       CAST(min(h) AS BIGINT) AS h_min,
       CAST(max(h) AS BIGINT) AS h_max
FROM d GROUP BY source, split ORDER BY source, split"""


# --- quality_train ----------------------------------------------------------

_QT_B = 64  # hashed feature buckets (model size — O(1) vs corpus)
_QT_ROUNDS = 3  # fixed full-batch GD rounds (the oracle replays each)
_QT_LR = 0.1
_QT_HOLD_MOD = 5  # doc_id % 5 == 4 held out for the AUC pin
_QT_HOLD_RES = 4


def _teacher_y() -> "F.Column":
    """The ONE definition of the teacher label over a ``toks`` column:
    y = 1 iff no blocklisted token (shared by the trainer and the
    held-out eval)."""
    blocked = F.size(F.filter("toks", lambda t: t.isin(*_BLOCKLIST)))
    return (blocked == 0).cast("int").alias("y")


def _hash_bucket(col: "F.Column") -> "F.Column":
    """The ONE gram -> bucket rule (md5-derived 60-bit hash mod
    _QT_B), shared by the unigram featurizer here and the bigram
    featurizer (``_bg_bucket_counts``) so bucket assignment can never drift."""
    return F.pmod(gram_hash(col), F.lit(_QT_B))


def _bucket_counts(df: DataFrame, extra_cols: list[str]) -> DataFrame:
    """The ONE definition of the feature rule — explode ``toks`` ->
    hashed bucket -> per-(doc, *extra, bucket) counts — shared by the
    trainer, apply, and eval so the three entries can never featurize
    differently. Docs with no tokens drop (explode), matching the
    oracle's unnest."""
    return (
        df.select("doc_id", *extra_cols, F.explode("toks").alias("tok"))
        .select(
            "doc_id",
            *extra_cols,
            _hash_bucket(F.col("tok")).alias("b"),
        )
        .groupBy("doc_id", *extra_cols, "b")
        .agg(F.count(F.lit(1)).cast("long").alias("cnt"))
    )


def _doc_scores(
    bucketed: DataFrame, w: DataFrame, extra_cols: list[str]
) -> DataFrame:
    """Per-doc exact BIGINT logit: broadcast the 64-row weight table
    onto the bucket counts, sum cnt·w per doc. The ONE scoring rule."""
    return (
        bucketed.join(F.broadcast(w), "b")
        .groupBy("doc_id", *extra_cols)
        .agg(F.sum(F.col("cnt") * F.col("w")).alias("z_micro"))
    )


# Session-scoped trainer stash (VERDICT r10 #3): quality_train /
# _apply / _eval (and the r11 bigram variant) each need the SAME
# trajectory at construction — without the stash every entry re-runs
# the 3 GD rounds (~10 s combined at sf0.1). The machinery
# (content-token keying, overwritten-fixture invalidation, dead-
# session eviction) lives in operators/stash.py, shared with the
# k-means and BPE trainer families since r11.


def _train_traj(
    spark: SparkSession,
    sf_dir: str,
    feats: Callable[[DataFrame, list[str]], DataFrame] | None = None,
    n_buckets: int = _QT_B,
) -> list[DataFrame]:
    """The shared trainer loop behind quality_train (trajectory),
    quality_train_apply (final weights), quality_train_eval, and the
    r11 hashed-bigram variant: _QT_ROUNDS rounds of full-batch
    logistic GD, returning the per-round n_buckets-row checkpointed
    weight frames (b, w). ``feats`` is the featurizer (default: the
    unigram _bucket_counts). The session stash keys on the
    featurizer's qualified name + n_buckets — derived from what was
    actually passed, so a caller can never be served another model
    family's weights by mislabeling (r11 review)."""
    from wq_data_pipeline_spark.operators.stash import session_stash

    feats = feats or _bucket_counts
    tag = (
        f"{getattr(feats, '__module__', '')}."
        f"{getattr(feats, '__qualname__', repr(feats))}:{n_buckets}"
    )
    return session_stash(
        spark,
        sf_dir,
        "documents",
        ("quality-traj", tag),
        lambda: _train_traj_build(spark, sf_dir, feats, n_buckets),
    )


def _train_traj_build(
    spark: SparkSession,
    sf_dir: str,
    feats: Callable[[DataFrame, list[str]], DataFrame],
    n_buckets: int,
) -> list[DataFrame]:

    d = _docs_parallel(spark, sf_dir)
    tr = d.filter(
        (F.col("doc_id") % _QT_HOLD_MOD) != _QT_HOLD_RES
    ).select("doc_id", tokens("text").alias("toks")).select(
        "doc_id", "toks", _teacher_y()
    )
    x = feats(tr, ["y"]).localCheckpoint()
    # a global (non-grouped) agg always yields exactly one row
    n_train = int(x.agg(F.countDistinct("doc_id").alias("n")).first()["n"])
    w = spark.range(n_buckets).select(
        F.col("id").cast("long").alias("b"), F.lit(0).cast("long").alias("w")
    )
    if n_train == 0:  # no trainable docs: weights stay at the zero init
        return [w] * _QT_ROUNDS

    traj = []
    for _ in range(_QT_ROUNDS):
        z = _doc_scores(x, w, ["y"])
        p = F.lit(1.0) / (
            F.lit(1.0)
            + F.exp(-(F.col("z_micro").cast("double") / F.lit(1000000.0)))
        )
        e = z.select(
            "doc_id",
            F.round((p - F.col("y").cast("double")) * F.lit(1000000.0))
            .cast("long")
            .alias("e"),
        )
        g = (
            x.join(e, "doc_id")
            .groupBy("b")
            .agg(F.sum(F.col("cnt") * F.col("e")).alias("g"))
        )
        w = (
            w.join(g, "b", "left")
            .select(
                "b",
                (
                    F.col("w")
                    - F.round(
                        F.lit(_QT_LR)
                        * F.coalesce(F.col("g"), F.lit(0))
                        / F.lit(n_train)
                    ).cast("long")
                ).alias("w"),
            )
            .localCheckpoint()
        )
        traj.append(w)
    return traj


def q_quality_train(spark: SparkSession, sf_dir: str) -> DataFrame:
    """In-engine quality-classifier training: 3 fixed rounds of
    full-batch logistic-regression gradient descent over hashed
    bag-of-words features (64 buckets), distilling the C4 blocklist
    gate into a linear model — label y = 1 iff the doc contains no
    blocklisted token (the DCLM/fastText shape: rule-based labels ->
    learned scorer; swap the label column for human/LLM labels, the
    trainer is unchanged). Docs with doc_id % 5 == 4 are held out;
    the held-out AUC (~0.8) is pinned in tests, not emitted.

    Output: the full weight trajectory (b, w_micro_r1..r3) in integer
    micro units — 64 rows pinning every round of the optimization,
    which is what makes a TRAINER oracle-checkable rather than just
    its final score.

    Oracle-exact by integer discipline: logits are exact BIGINT dots
    of counts × micro-weights; the sigmoid — the only float — is
    quantized per doc BEFORE summation (round((p - y) * 1e6), the
    unigram_logprob micro-bits precedent), so gradients are order-free
    BIGINT sums and the update w' = w - round(lr * g / n) is one
    deterministic double op on exact integers.

    100-TB shape (the k-means distributed-state discipline): the
    feature table is built once, checkpointed, and only joined — two
    shuffles per round (by doc for logits, by bucket for the
    64-group gradient, both map-side combinable) plus a broadcast of
    the 64-row weight table. No per-round driver collect; the single
    bounded action is n_train (one scalar)."""
    traj = _train_traj(spark, sf_dir)
    out = traj[0].select("b", F.col("w").alias("w_micro_r1"))
    for r in range(2, _QT_ROUNDS + 1):
        # weight frames are n_buckets rows BY CONSTRUCTION (a config
        # constant), but arrive RDD-backed from the stash with no
        # stats, so the planner falls back to sort-merge — pin the
        # broadcast (guide §3.1; same reasoning at any corpus scale)
        out = out.join(
            F.broadcast(
                traj[r - 1].select("b", F.col("w").alias(f"w_micro_r{r}"))
            ),
            "b",
        )
    return out.orderBy("b")


def q_quality_train_apply(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Train -> INFER, end to end (the bpe_train/bpe_apply pairing for
    the classifier family): the final-round trained weights score the
    WHOLE corpus — held-out docs included, which is the point of
    holding them out — and the per-source report gives doc counts,
    docs the learned gate keeps (logit > 0), and the exact summed
    logit mass. ``quality_classifier`` is this plan with fixed
    md5-derived weights; here the weight table is the trainer's
    output, so a green row pins training AND inference together.

    Scale shape: inference is ONE explode + per-(doc, source, bucket)
    hash agg + a broadcast join of the 64-row model + two map-side-
    combinable rollups — identical to quality_classifier's broadcast-
    join inference, with the trainer's distributed-state loop bolted
    in front (construction-time, k-means discipline). Docs with no
    tokens score nothing and are excluded on both sides (explode and
    unnest agree)."""

    w_final = _train_traj(spark, sf_dir)[-1]
    d = _docs_parallel(spark, sf_dir).select(
        "doc_id", "source", tokens("text").alias("toks")
    )
    z = _doc_scores(_bucket_counts(d, ["source"]), w_final, ["source"])
    return (
        z.groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum((F.col("z_micro") > 0).cast("long")).alias("n_kept"),
            F.sum("z_micro").cast("long").alias("sum_z_micro"),
        )
        .orderBy("source")
    )


def q_quality_train_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Train -> apply -> EVAL, closing the distillation loop: the
    trained model's held-out report against its teacher rule (the
    blocklist gate) — confusion counts, accuracy, Cohen's kappa, and
    AUC, all on the doc_id % 5 == 4 slice the trainer never saw.
    This is the acceptance gate a real pipeline runs before swapping
    a learned filter in for the rule it distills.

    The AUC is the scale-safe SHAPE (scores pre-aggregate to distinct-
    value groups (cnt, cnt_pos), group midranks come from
    ``scale.distributed_prefix_sum`` over the score order — never a
    single-partition rank window) with the rank mass kept in BIGINT
    via the 2×midrank trick (cnt_pos · (2·cum_before + cnt + 1)), so
    the only floats are the three final divisions (rounded 6dp in
    both dialects). Exactness bound: r2 ≈ n_held·n_pos must stay
    below 2^63, i.e. the formula is exact to ~3e9 held docs — far
    past any practical eval slice (real acceptance gates score
    sampled thousands-to-millions); past it, shard the eval and
    average, or accept the ~2^53 double envelope. Kappa/accuracy come
    from the exact confusion integers. Docs with no tokens score
    nothing and are excluded on both sides. The per-doc score frame
    is checkpointed ONCE and feeds both the confusion and the AUC
    branches (the conf branch would otherwise re-run the corpus
    explode)."""
    return _eval_frame(spark, sf_dir, _train_traj(spark, sf_dir)[-1])


def _held_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The ONE definition of the held-out labeled slice — (doc_id,
    toks, y) for doc_id % mod == res — shared by the eval gate and
    the r12 calibration entry so the two reports can never describe
    different slices."""

    return (
        _docs_parallel(spark, sf_dir)
        .filter((F.col("doc_id") % _QT_HOLD_MOD) == _QT_HOLD_RES)
        .select("doc_id", tokens("text").alias("toks"))
        .select("doc_id", "toks", _teacher_y())
    )


def _eval_frame(
    spark: SparkSession,
    sf_dir: str,
    w_final: DataFrame,
    feats: Callable[[DataFrame, list[str]], DataFrame] | None = None,
) -> DataFrame:
    """The held-out acceptance-gate computation (confusion, accuracy,
    kappa, AUC) for ANY trained weight table + featurizer pair —
    shared by quality_train_eval and the r11 bigram variant so the
    eval rule can never drift between model families."""
    from wq_data_pipeline_spark.operators.scale import distributed_prefix_sum

    held = _held_docs(spark, sf_dir)
    z = (
        _doc_scores((feats or _bucket_counts)(held, ["y"]), w_final, ["y"])
        .withColumnRenamed("z_micro", "z")
        .localCheckpoint()
    )
    pred = F.col("z") > 0
    pos = F.col("y") == 1
    conf = z.agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.coalesce(F.sum((pos).cast("long")), F.lit(0)).alias("n_pos"),
        F.coalesce(F.sum((~pos).cast("long")), F.lit(0)).alias("n_neg"),
        F.coalesce(F.sum((pos & pred).cast("long")), F.lit(0)).alias("tp"),
        F.coalesce(F.sum((~pos & pred).cast("long")), F.lit(0)).alias("fp"),
        F.coalesce(F.sum((pos & ~pred).cast("long")), F.lit(0)).alias("fn"),
        F.coalesce(F.sum((~pos & ~pred).cast("long")), F.lit(0)).alias("tn"),
    )
    g = z.groupBy("z").agg(
        F.count(F.lit(1)).cast("long").alias("cnt"),
        F.sum("y").cast("long").alias("cnt_pos"),
    )
    pg = distributed_prefix_sum(g, "z", "cnt", out="cum_before")
    r2 = pg.agg(
        F.coalesce(
            F.sum(
                F.col("cnt_pos")
                * (F.lit(2) * F.col("cum_before") + F.col("cnt") + F.lit(1))
            ),
            F.lit(0),
        )
        .cast("long")
        .alias("r2")
    )
    nd = F.col("n_docs").cast("double")
    safe_n = F.greatest(nd, F.lit(1.0))
    po = (F.col("tp") + F.col("tn")).cast("double") / safe_n
    pe = (
        (F.col("tp") + F.col("fp")) * (F.col("tp") + F.col("fn"))
        + (F.col("fn") + F.col("tn")) * (F.col("fp") + F.col("tn"))
    ).cast("double") / (safe_n * safe_n)
    kappa = F.when(
        (F.lit(1.0) - pe) == 0.0, F.lit(0.0)
    ).otherwise(F.round((po - pe) / (F.lit(1.0) - pe), 6))
    auc = F.when(
        (F.col("n_pos") == 0) | (F.col("n_neg") == 0), F.lit(None).cast("double")
    ).otherwise(
        F.round(
            (F.col("r2") - F.col("n_pos") * (F.col("n_pos") + 1)).cast("double")
            / (
                F.lit(2.0)
                * F.col("n_pos").cast("double")
                * F.col("n_neg").cast("double")
            ),
            6,
        )
    )
    return conf.join(F.broadcast(r2)).select(
        "n_docs",
        "n_pos",
        "n_neg",
        "tp",
        "fp",
        "fn",
        "tn",
        F.round(po, 6).alias("accuracy"),
        kappa.alias("kappa"),
        auc.alias("auc"),
    )


# SQL mirrors of _teacher_y / _bucket_counts / _doc_scores — ONE
# definition per rule, interpolated by all three classifier oracles
# so they can never featurize, label, or score differently.
_SQL_TEACHER_Y = (
    f"CASE WHEN len(list_filter(toks, t -> t IN {_BLOCKLIST_SQL})) = 0 "
    "THEN 1 ELSE 0 END"
)


def _sql_bucket_cte(src: str, extra: str, f_n: str, x_n: str) -> str:
    ex = f"{extra}, " if extra else ""
    return (
        f"{f_n} AS (SELECT doc_id, {ex}('0x' || substr(md5(unnest(toks)), 1, 15))::BIGINT % {_QT_B} AS b FROM {src}),\n"
        f"{x_n} AS (SELECT doc_id, {ex}b, CAST(count(*) AS BIGINT) AS cnt FROM {f_n} GROUP BY doc_id, {ex}b)"
    )


def _sql_score_cte(x_n: str, w_n: str, z_n: str, extra: str, alias: str) -> str:
    ex = f"x.{extra}, " if extra else ""
    grp = f", x.{extra}" if extra else ""
    return (
        f"{z_n} AS (\n"
        f"  SELECT x.doc_id, {ex}sum(x.cnt * w.w) AS {alias}\n"
        f"  FROM {x_n} x JOIN {w_n} w USING (b) GROUP BY x.doc_id{grp}\n"
        f")"
    )


def _sql_train_prefix(bucket_cte=None, n_buckets: int = _QT_B) -> str:
    """The WITH chain (features -> w0 -> 3 unrolled GD rounds) shared
    by the quality_train / quality_train_apply / quality_train_eval
    oracles — ONE definition of the training recurrence, so the
    entries can never replay different trainers. ``bucket_cte``
    swaps the featurizer (default: unigram _sql_bucket_cte; the r11
    bigram oracle passes its own), mirroring _train_traj's ``feats``."""
    bucket_cte = bucket_cte or _sql_bucket_cte
    rounds = []
    prev = "w0"
    for r in range(1, _QT_ROUNDS + 1):
        rounds.append(
            f"""{_sql_score_cte("x", prev, f"z{r}", "y", "z_micro")},
e{r} AS (
  SELECT doc_id,
         CAST(round((1.0 / (1.0 + exp(-(CAST(z_micro AS DOUBLE) / 1000000.0)))
                     - CAST(y AS DOUBLE)) * 1000000.0) AS BIGINT) AS e
  FROM z{r}
),
g{r} AS (
  SELECT x.b, sum(x.cnt * e.e) AS g
  FROM x JOIN e{r} e USING (doc_id) GROUP BY x.b
),
w{r} AS (
  SELECT w.b,
         CAST(w.w - CAST(round(CAST({_QT_LR} AS DOUBLE) * COALESCE(g.g, 0) / greatest(n.n, 1)) AS BIGINT) AS BIGINT) AS w
  FROM {prev} w LEFT JOIN g{r} g USING (b) CROSS JOIN n
)"""
        )
        prev = f"w{r}"
    # CAST(lr AS DOUBLE): DuckDB parses the bare 0.1 literal as
    # DECIMAL(2,1) and would keep the lr*g product exact, converting
    # to double only at the division — the engine multiplies in double
    # from the start (F.lit(0.1) * g). The cast forces the identical
    # double multiply-then-divide sequence so round() can never see a
    # 1-ulp-different half-integer boundary.
    # greatest(n, 1): on a corpus with ZERO trainable docs, g is empty
    # (COALESCE 0) but n is 0 too — round(0.1*0/0) is NULL in DuckDB,
    # which would diverge from the engine's explicit n_train == 0
    # zero-weight guard; with the floor, delta is 0/1 = 0 and both
    # sides agree that the weights stay at the zero init.
    return f"""
WITH tr AS (
  SELECT doc_id, {SQL_TOKS_EXPR} AS toks
  FROM documents WHERE doc_id % {_QT_HOLD_MOD} <> {_QT_HOLD_RES}
),
lab AS (
  SELECT doc_id, toks, {_SQL_TEACHER_Y} AS y
  FROM tr
),
{bucket_cte("lab", "y", "f", "x")},
n AS (SELECT count(DISTINCT doc_id) AS n FROM x),
w0 AS (SELECT unnest(generate_series(0, {n_buckets - 1})) AS b, CAST(0 AS BIGINT) AS w),
{",".join(rounds)}"""


def _sql_quality_train() -> str:
    sel = ", ".join(
        f"w{r}.w AS w_micro_r{r}" for r in range(1, _QT_ROUNDS + 1)
    )
    joins = " ".join(f"JOIN w{r} USING (b)" for r in range(2, _QT_ROUNDS + 1))
    return f"""{_sql_train_prefix()}
SELECT w1.b, {sel}
FROM w1 {joins} ORDER BY w1.b"""


def _sql_quality_train_apply() -> str:
    return f"""{_sql_train_prefix()},
af AS (
  SELECT doc_id, source, {SQL_TOKS_EXPR} AS toks
  FROM documents
),
{_sql_bucket_cte("af", "source", "ff", "xf")},
{_sql_score_cte("xf", f"w{_QT_ROUNDS}", "zf", "source", "z_micro")}
SELECT source,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(CASE WHEN z_micro > 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
       CAST(sum(z_micro) AS BIGINT) AS sum_z_micro
FROM zf GROUP BY source ORDER BY source"""


def _sql_held_cte(name: str = "hl") -> str:
    """SQL mirror of ``_held_docs`` — the ONE oracle definition of the
    held-out labeled slice, shared by the eval and calibration
    oracles."""
    return (
        f"{name} AS (\n"
        f"  SELECT doc_id, toks, {_SQL_TEACHER_Y} AS y\n"
        f"  FROM (SELECT doc_id, {SQL_TOKS_EXPR} AS toks\n"
        f"        FROM documents WHERE doc_id % {_QT_HOLD_MOD} = {_QT_HOLD_RES})\n"
        f")"
    )


def _sql_quality_train_eval(prefix: str | None = None, bucket_cte=None) -> str:
    """Eval-oracle body, parameterized the same way as _eval_frame:
    ``prefix`` is the training WITH-chain (default: the unigram
    trainer), ``bucket_cte`` the held-out featurizer."""
    prefix = _sql_train_prefix() if prefix is None else prefix
    bucket_cte = bucket_cte or _sql_bucket_cte
    nd = "greatest(CAST(c.n_docs AS DOUBLE), 1.0)"
    po = f"CAST(c.tp + c.tn AS DOUBLE) / {nd}"
    pe = (
        "CAST((c.tp + c.fp) * (c.tp + c.fn) + (c.fn + c.tn) * (c.fp + c.tn) AS DOUBLE)"
        f" / ({nd} * {nd})"
    )
    return f"""{prefix},
{_sql_held_cte("hl")},
{bucket_cte("hl", "y", "hf", "hx")},
{_sql_score_cte("hx", f"w{_QT_ROUNDS}", "hz", "y", "z")},
c AS (
  SELECT CAST(count(*) AS BIGINT) AS n_docs,
         CAST(coalesce(sum(CASE WHEN y = 1 THEN 1 ELSE 0 END), 0) AS BIGINT) AS n_pos,
         CAST(coalesce(sum(CASE WHEN y = 0 THEN 1 ELSE 0 END), 0) AS BIGINT) AS n_neg,
         CAST(coalesce(sum(CASE WHEN y = 1 AND z > 0 THEN 1 ELSE 0 END), 0) AS BIGINT) AS tp,
         CAST(coalesce(sum(CASE WHEN y = 0 AND z > 0 THEN 1 ELSE 0 END), 0) AS BIGINT) AS fp,
         CAST(coalesce(sum(CASE WHEN y = 1 AND z <= 0 THEN 1 ELSE 0 END), 0) AS BIGINT) AS fn,
         CAST(coalesce(sum(CASE WHEN y = 0 AND z <= 0 THEN 1 ELSE 0 END), 0) AS BIGINT) AS tn
  FROM hz
),
gg AS (SELECT z, CAST(count(*) AS BIGINT) AS cnt, CAST(sum(y) AS BIGINT) AS cnt_pos FROM hz GROUP BY z),
pg AS (
  SELECT z, cnt, cnt_pos,
         COALESCE(sum(cnt) OVER (ORDER BY z ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cum_before
  FROM gg
),
r AS (SELECT CAST(coalesce(sum(cnt_pos * (2 * cum_before + cnt + 1)), 0) AS BIGINT) AS r2 FROM pg)
SELECT c.n_docs, c.n_pos, c.n_neg, c.tp, c.fp, c.fn, c.tn,
       round({po}, 6) AS accuracy,
       CASE WHEN 1.0 - ({pe}) = 0.0 THEN 0.0
            ELSE round((({po}) - ({pe})) / (1.0 - ({pe})), 6) END AS kappa,
       CASE WHEN c.n_pos = 0 OR c.n_neg = 0 THEN NULL
            ELSE round(CAST(r.r2 - c.n_pos * (c.n_pos + 1) AS DOUBLE)
                       / (2.0 * CAST(c.n_pos AS DOUBLE) * CAST(c.n_neg AS DOUBLE)), 6) END AS auc
FROM c CROSS JOIN r"""


SQL_QUALITY_TRAIN = _sql_quality_train()
SQL_QUALITY_TRAIN_APPLY = _sql_quality_train_apply()
SQL_QUALITY_TRAIN_EVAL = _sql_quality_train_eval()


# --- quality_train_bigram ---------------------------------------------------

_BG_NB = 2 * _QT_B  # 64 unigram buckets + 64 bigram buckets


def _bg_bucket_counts(df: DataFrame, extra_cols: list[str]) -> DataFrame:
    """The bigram-model featurizer (fastText shape): hashed unigrams
    land in buckets 0.._QT_B-1 (the SAME _hash_bucket rule as the r10
    unigram model), hashed "w1 w2" bigrams in buckets _QT_B..2B-1 —
    separate sub-spaces so unigram evidence is never aliased by
    bigram collisions. Docs with < 2 tokens contribute unigrams only;
    docs with no tokens drop entirely (explode), matching the
    oracle's unnest."""
    bigrams = F.transform(
        F.sequence(F.lit(1), F.size("toks") - 1),
        lambda i: F.concat(
            F.element_at("toks", i), F.lit(" "), F.element_at("toks", i + 1)
        ),
    )
    uni = df.select(
        "doc_id", *extra_cols, F.explode("toks").alias("g"), F.lit(0).alias("off")
    )
    big = (
        # the size guard matters: F.sequence(1, 0) would step DOWN
        df.filter(F.size("toks") >= 2)
        .select(
            "doc_id",
            *extra_cols,
            F.explode(bigrams).alias("g"),
            F.lit(_QT_B).alias("off"),
        )
    )
    return (
        uni.unionByName(big)
        .select(
            "doc_id",
            *extra_cols,
            (F.col("off") + _hash_bucket(F.col("g"))).alias("b"),
        )
        .groupBy("doc_id", *extra_cols, "b")
        .agg(F.count(F.lit(1)).cast("long").alias("cnt"))
    )


def _sql_bg_bucket_cte(src: str, extra: str, f_n: str, x_n: str) -> str:
    """SQL mirror of _bg_bucket_counts — same (src, extra, f, x)
    contract as ``_sql_bucket_cte`` so it drops into the
    shared training/eval oracle bodies."""
    ex = f"{extra}, " if extra else ""
    return (
        f"{f_n} AS (\n"
        f"  SELECT doc_id, {ex}('0x' || substr(md5(g), 1, 15))::BIGINT % {_QT_B} + off AS b FROM (\n"
        f"    SELECT doc_id, {ex}unnest(toks) AS g, 0 AS off FROM {src}\n"
        f"    UNION ALL\n"
        f"    SELECT doc_id, {ex}unnest(list_transform(generate_series(1, greatest(len(toks) - 1, 0)), i -> toks[i] || ' ' || toks[i + 1])) AS g, {_QT_B} AS off FROM {src}\n"
        f"  )\n"
        f"),\n"
        f"{x_n} AS (SELECT doc_id, {ex}b, CAST(count(*) AS BIGINT) AS cnt FROM {f_n} GROUP BY doc_id, {ex}b)"
    )


def q_quality_train_bigram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The bigram-featured quality classifier, trained in-engine and
    judged by the held-out acceptance gate in one entry: the SAME
    3-round integer-exact GD recurrence as ``quality_train``
    (``_train_traj``, generic over the featurizer) over
    128-bucket unigram+bigram features, evaluated on the never-seen
    doc_id % 5 == 4 slice via the SAME eval rule as
    ``quality_train_eval`` (``_eval_frame``). Output: one row
    (n_docs, n_pos, n_neg, tp, fp, fn, tn, accuracy, kappa, auc).
    The bigram-beats-unigram held-out AUC pin is
    ``test_bigram_separates_where_unigram_cannot``.

    100-TB shape: identical to quality_train — per round two
    map-side-combinable shuffles of the skinny feature table plus a
    broadcast of the (now 128-row) weight state; the featurizer adds
    ~2x exploded rows, nothing structural. The trainer trajectory is
    stashed per (session, sf_dir, featurizer-identity), so repeated
    constructions pay one build per session."""
    traj = _train_traj(
        spark, sf_dir, feats=_bg_bucket_counts, n_buckets=_BG_NB
    )
    return _eval_frame(spark, sf_dir, traj[-1], feats=_bg_bucket_counts)


SQL_QUALITY_TRAIN_BIGRAM = _sql_quality_train_eval(
    prefix=_sql_train_prefix(_sql_bg_bucket_cte, _BG_NB),
    bucket_cte=_sql_bg_bucket_cte,
)


_LI_B = 128  # hashed trigram buckets per class (model size — O(1))
_LI_SNIP = 160  # chars of text the featurizer reads (fastText shape)
_LI_ROUNDS = 3  # fixed full-batch GD rounds (the oracle replays each)
_LI_LR = 0.1
_LI_HOLD_MOD = 5  # doc_id % 5 == 4 held out (the quality_train split)
_LI_HOLD_RES = 4


def _li_snippet(text: F.Column) -> F.Column:
    """lower() of the first _LI_SNIP chars — start position 1, so the
    substring never pays the char-offset byte scan."""
    return F.lower(F.substring(text, 1, _LI_SNIP))


def _li_features(d: DataFrame, extra_cols: list[str]) -> DataFrame:
    """(doc_id, *extra, b, cnt): hashed-trigram bucket counts of the
    snippet. Trigrams come from sequence+transform (no per-char
    explode of raw text — the array explodes post-build, bounded at
    _LI_SNIP - 2 rows/doc). Docs with < 3 snippet chars drop
    (explode of the empty array), matching the oracle's unnest."""
    sn = _li_snippet(F.col("text"))
    m = F.length(sn)
    tris = F.when(
        m >= 3,
        F.transform(
            F.sequence(F.lit(1), m - 2),
            lambda i: sn.substr(i, F.lit(3)),
        ),
    ).otherwise(F.array().cast("array<string>"))
    return (
        d.select("doc_id", *extra_cols, F.explode(tris).alias("g"))
        .select(
            "doc_id",
            *extra_cols,
            F.pmod(gram_hash(F.col("g")), F.lit(_LI_B)).alias("b"),
        )
        .groupBy("doc_id", *extra_cols, "b")
        .agg(F.count(F.lit(1)).cast("long").alias("cnt"))
    )


def _li_traj(spark: SparkSession, sf_dir: str) -> list[DataFrame]:
    """Session-stashed trainer trajectory: _LI_ROUNDS checkpointed
    (lang, b, w) frames. Params carry every non-input degree of
    freedom (buckets, snippet, rounds, lr, split) so the stash can
    never serve a differently-configured model."""
    from wq_data_pipeline_spark.operators.stash import session_stash

    return session_stash(
        spark,
        sf_dir,
        "documents",
        (
            "langid-traj",
            _LI_B,
            _LI_SNIP,
            _LI_ROUNDS,
            _LI_LR,
            _LI_HOLD_MOD,
            _LI_HOLD_RES,
        ),
        lambda: _li_traj_build(spark, sf_dir),
    )


def _li_traj_build(spark: SparkSession, sf_dir: str) -> list[DataFrame]:

    tr = _docs_parallel(spark, sf_dir).filter(
        ((F.col("doc_id") % _LI_HOLD_MOD) != _LI_HOLD_RES)
        & F.col("lang").isNotNull()
        & F.col("text").isNotNull()
    )
    # x carries the true label through the feature table (the binary
    # trainer's extra_cols=['y'] trick, lifted to the class string)
    x = _li_features(tr, ["lang"]).localCheckpoint()
    classes = (
        tr.select(F.col("lang").alias("cand")).distinct().localCheckpoint()
    )
    n_train = int(x.agg(F.countDistinct("doc_id").alias("n")).first()["n"])
    w = classes.crossJoin(
        spark.range(_LI_B).select(F.col("id").cast("long").alias("b"))
    ).select("cand", "b", F.lit(0).cast("long").alias("w"))
    if n_train == 0:  # no featurizable docs: weights stay at zero init
        w = w.localCheckpoint()
        return [w] * _LI_ROUNDS

    traj = []
    for _ in range(_LI_ROUNDS):
        # one-vs-rest logits for EVERY (doc, class) in one broadcast
        # join: the K x _LI_B model fans each (doc, b) row out to K
        # candidates, then the per-(doc, cand) sum is map-side
        # combinable
        z = (
            x.join(F.broadcast(w), "b")
            .groupBy("doc_id", "lang", "cand")
            .agg(F.sum(F.col("cnt") * F.col("w")).alias("z_micro"))
        )
        p = F.lit(1.0) / (
            F.lit(1.0)
            + F.exp(-(F.col("z_micro").cast("double") / F.lit(1000000.0)))
        )
        y = (F.col("lang") == F.col("cand")).cast("int")
        e = z.select(
            "doc_id",
            "cand",
            F.round((p - y.cast("double")) * F.lit(1000000.0))
            .cast("long")
            .alias("e"),
        )
        g = (
            x.join(e, "doc_id")
            .groupBy("cand", "b")
            .agg(F.sum(F.col("cnt") * F.col("e")).alias("g"))
        )
        w = (
            w.join(g, ["cand", "b"], "left")
            .select(
                "cand",
                "b",
                (
                    F.col("w")
                    - F.round(
                        F.lit(_LI_LR)
                        * F.coalesce(F.col("g"), F.lit(0))
                        / F.lit(n_train)
                    ).cast("long")
                ).alias("w"),
            )
            .localCheckpoint()
        )
        traj.append(w)
    return traj


def q_lang_id_train(spark: SparkSession, sf_dir: str) -> DataFrame:
    """See the lang-ID notes in the module docstring — trajectory output (lang, b,
    w_micro_r1..r{_LI_ROUNDS}), one row per (class, bucket), pinning
    every round of the joint one-vs-rest optimization."""
    traj = _li_traj(spark, sf_dir)
    out = traj[0].select(
        F.col("cand").alias("lang"), "b", F.col("w").alias("w_micro_r1")
    )
    for r in range(2, _LI_ROUNDS + 1):
        # (n_langs × n_buckets)-row weight frames, RDD-backed (no
        # stats) — pin the broadcast instead of the planner's
        # sort-merge fallback (guide §3.1; size is a config constant)
        out = out.join(
            F.broadcast(
                traj[r - 1].select(
                    F.col("cand").alias("lang"),
                    "b",
                    F.col("w").alias(f"w_micro_r{r}"),
                )
            ),
            ["lang", "b"],
        )
    return out.orderBy("lang", "b")


def q_lang_id_apply(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Train -> INFER: the final-round model scores the whole corpus
    (held-out docs included) and predicts argmax-logit language with
    the (z DESC, lang ASC) tiebreak; output is the confusion matrix
    (lang, pred_lang, n_docs). Docs with no trigram features score
    nothing and are excluded on both sides (explode and unnest
    agree); inference is one snippet featurization + a broadcast of
    the K x 128 model + one per-doc rank window."""

    w_final = _li_traj(spark, sf_dir)[-1]
    d = _docs_parallel(spark, sf_dir).filter(
        F.col("lang").isNotNull() & F.col("text").isNotNull()
    )
    z = (
        _li_features(d, ["lang"])
        .join(F.broadcast(w_final), "b")
        .groupBy("doc_id", "lang", "cand")
        .agg(F.sum(F.col("cnt") * F.col("w")).alias("z_micro"))
    )
    rn = F.row_number().over(
        Window.partitionBy("doc_id").orderBy(
            F.col("z_micro").desc(), F.col("cand").asc()
        )
    )
    return (
        z.withColumn("rn", rn)
        .filter(F.col("rn") == 1)
        .groupBy("lang", F.col("cand").alias("pred_lang"))
        .agg(F.count(F.lit(1)).alias("n_docs"))
        .orderBy("lang", "pred_lang")
    )


def q_lang_id_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Train -> apply -> EVAL, closing the lang-id loop (the
    quality_train_eval pairing for the multi-class family): per-class
    precision / recall / F1 of the trained model on the held-out
    slice (doc_id % 5 == 4) against the documents.lang labels — the
    acceptance gate before swapping a trained identifier in for the
    marker heuristic.

    One pass: held docs featurize + broadcast-score + argmax window
    into a <= K x K confusion frame, checkpointed ONCE (three metric
    aggregates would otherwise re-run the corpus featurization), then
    per-class rollups left-joined onto the trained class list so
    classes absent from the held slice still report. F1 uses the
    2*tp/(n_pred + n_true) identity — algebraically 2PR/(P+R) — so
    the only float is one final division, rounded 6dp in both
    dialects."""

    w_final = _li_traj(spark, sf_dir)[-1]
    held = _docs_parallel(spark, sf_dir).filter(
        ((F.col("doc_id") % _LI_HOLD_MOD) == _LI_HOLD_RES)
        & F.col("lang").isNotNull()
        & F.col("text").isNotNull()
    )
    z = (
        _li_features(held, ["lang"])
        .join(F.broadcast(w_final), "b")
        .groupBy("doc_id", "lang", "cand")
        .agg(F.sum(F.col("cnt") * F.col("w")).alias("z_micro"))
    )
    rn = F.row_number().over(
        Window.partitionBy("doc_id").orderBy(
            F.col("z_micro").desc(), F.col("cand").asc()
        )
    )
    conf = (
        z.withColumn("rn", rn)
        .filter(F.col("rn") == 1)
        .groupBy(F.col("lang").alias("t"), F.col("cand").alias("p"))
        .agg(F.count(F.lit(1)).alias("n"))
        .localCheckpoint(eager=True)
    )
    classes = w_final.select(F.col("cand").alias("lang")).distinct()
    n_true = conf.groupBy(F.col("t").alias("lang")).agg(
        F.sum("n").alias("n_true")
    )
    n_pred = conf.groupBy(F.col("p").alias("lang")).agg(
        F.sum("n").alias("n_pred")
    )
    tp = conf.filter(F.col("t") == F.col("p")).select(
        F.col("t").alias("lang"), F.col("n").alias("tp")
    )
    j = (
        classes.join(n_true, "lang", "left")
        .join(n_pred, "lang", "left")
        .join(tp, "lang", "left")
        .select(
            "lang",
            F.coalesce("n_true", F.lit(0)).alias("n_true"),
            F.coalesce("n_pred", F.lit(0)).alias("n_pred"),
            F.coalesce("tp", F.lit(0)).alias("tp"),
        )
    )
    prec = F.when(
        F.col("n_pred") == 0, F.lit(None).cast("double")
    ).otherwise(
        F.round(F.col("tp").cast("double") / F.col("n_pred"), 6)
    )
    rec = F.when(
        F.col("n_true") == 0, F.lit(None).cast("double")
    ).otherwise(
        F.round(F.col("tp").cast("double") / F.col("n_true"), 6)
    )
    f1 = F.when(
        (F.col("n_pred") + F.col("n_true")) == 0,
        F.lit(None).cast("double"),
    ).otherwise(
        F.round(
            F.lit(2.0)
            * F.col("tp").cast("double")
            / (F.col("n_pred") + F.col("n_true")),
            6,
        )
    )
    return j.select(
        "lang",
        "n_true",
        "n_pred",
        "tp",
        prec.alias("prec"),
        rec.alias("rec"),
        f1.alias("f1"),
    ).orderBy("lang")


# --- SQL mirrors ------------------------------------------------------------

# ONE definition of the featurizer per source CTE, interpolated by
# both oracles (the ``_sql_bucket_cte`` pattern): snippet ->
# per-offset trigram -> md5-derived bucket -> (doc, *extra, b) counts.
def _sql_li_features(src: str, extra: str, p_n: str, x_n: str) -> str:
    ex = f"{extra}, " if extra else ""
    return (
        f"{p_n} AS (\n"
        f"  SELECT doc_id, {ex}sn,"
        " unnest(range(1, greatest(length(sn) - 1, 1))) AS i\n"
        f"  FROM (SELECT doc_id, {ex}lower(substr(text, 1, {_LI_SNIP})) AS sn"
        f" FROM {src})\n"
        f"),\n"
        f"{x_n} AS (\n"
        f"  SELECT doc_id, {ex}"
        f"('0x' || substr(md5(substr(sn, i, 3)), 1, 15))::BIGINT % {_LI_B} AS b,\n"
        f"         CAST(count(*) AS BIGINT) AS cnt\n"
        f"  FROM {p_n} GROUP BY ALL\n"
        f")"
    )


def _sql_li_train_prefix() -> str:
    """WITH chain: training docs -> features -> classes -> w0 ->
    _LI_ROUNDS unrolled GD rounds. CAST(lr AS DOUBLE) and
    greatest(n, 1) carry the r10/r11 lessons (DECIMAL literals;
    zero-trainable-docs NULL division)."""
    rounds = []
    prev = "w0"
    for r in range(1, _LI_ROUNDS + 1):
        rounds.append(
            f"""z{r} AS (
  SELECT x.doc_id, x.lang, w.cand, sum(x.cnt * w.w) AS z_micro
  FROM x JOIN {prev} w USING (b) GROUP BY ALL
),
e{r} AS (
  SELECT doc_id, cand,
         CAST(round((1.0 / (1.0 + exp(-(CAST(z_micro AS DOUBLE) / 1000000.0)))
                     - CASE WHEN lang = cand THEN 1.0 ELSE 0.0 END)
                    * 1000000.0) AS BIGINT) AS e
  FROM z{r}
),
g{r} AS (
  SELECT e.cand, x.b, sum(x.cnt * e.e) AS g
  FROM x JOIN e{r} e USING (doc_id) GROUP BY ALL
),
w{r} AS (
  SELECT w.cand, w.b,
         CAST(w.w - CAST(round(CAST({_LI_LR} AS DOUBLE) * COALESCE(g.g, 0)
                               / greatest(n.n, 1)) AS BIGINT) AS BIGINT) AS w
  FROM {prev} w LEFT JOIN g{r} g USING (cand, b) CROSS JOIN n
)"""
        )
        prev = f"w{r}"
    return f"""
WITH tr AS (
  SELECT doc_id, lang, text FROM documents
  WHERE doc_id % {_LI_HOLD_MOD} <> {_LI_HOLD_RES}
    AND lang IS NOT NULL AND text IS NOT NULL
),
{_sql_li_features("tr", "lang", "p", "x")},
cls AS (SELECT DISTINCT lang AS cand FROM tr),
n AS (SELECT count(DISTINCT doc_id) AS n FROM x),
w0 AS (
  SELECT cand, unnest(generate_series(0, {_LI_B - 1})) AS b,
         CAST(0 AS BIGINT) AS w
  FROM cls
),
{",".join(rounds)}"""


def _sql_lang_id_train() -> str:
    sel = ", ".join(
        f"w{r}.w AS w_micro_r{r}" for r in range(1, _LI_ROUNDS + 1)
    )
    joins = " ".join(
        f"JOIN w{r} USING (cand, b)" for r in range(2, _LI_ROUNDS + 1)
    )
    return f"""{_sql_li_train_prefix()}
SELECT w1.cand AS lang, w1.b, {sel}
FROM w1 {joins} ORDER BY lang, b"""


def _sql_lang_id_apply() -> str:
    return f"""{_sql_li_train_prefix()},
af AS (
  SELECT doc_id, lang, text FROM documents
  WHERE lang IS NOT NULL AND text IS NOT NULL
),
{_sql_li_features("af", "lang", "ap", "ax")},
az AS (
  SELECT x.doc_id, x.lang, w.cand, sum(x.cnt * w.w) AS z_micro
  FROM ax x JOIN w{_LI_ROUNDS} w USING (b) GROUP BY ALL
),
pr AS (
  SELECT doc_id, lang, cand,
         row_number() OVER (PARTITION BY doc_id
                            ORDER BY z_micro DESC, cand ASC) AS rn
  FROM az
)
SELECT lang, cand AS pred_lang, CAST(count(*) AS BIGINT) AS n_docs
FROM pr WHERE rn = 1 GROUP BY ALL ORDER BY lang, pred_lang"""


def _sql_lang_id_eval() -> str:
    return f"""{_sql_li_train_prefix()},
hd AS (
  SELECT doc_id, lang, text FROM documents
  WHERE doc_id % {_LI_HOLD_MOD} = {_LI_HOLD_RES}
    AND lang IS NOT NULL AND text IS NOT NULL
),
{_sql_li_features("hd", "lang", "hp", "hx")},
hz AS (
  SELECT x.doc_id, x.lang, w.cand, sum(x.cnt * w.w) AS z_micro
  FROM hx x JOIN w{_LI_ROUNDS} w USING (b) GROUP BY ALL
),
hpr AS (
  SELECT doc_id, lang, cand,
         row_number() OVER (PARTITION BY doc_id
                            ORDER BY z_micro DESC, cand ASC) AS rn
  FROM hz
),
conf AS (
  SELECT lang AS t, cand AS p, CAST(count(*) AS BIGINT) AS n
  FROM hpr WHERE rn = 1 GROUP BY ALL
),
nt AS (SELECT t AS lang, CAST(sum(n) AS BIGINT) AS n_true FROM conf GROUP BY 1),
np AS (SELECT p AS lang, CAST(sum(n) AS BIGINT) AS n_pred FROM conf GROUP BY 1),
tpc AS (SELECT t AS lang, n AS tp FROM conf WHERE t = p),
j AS (
  SELECT c.cand AS lang,
         COALESCE(n_true, 0) AS n_true,
         COALESCE(n_pred, 0) AS n_pred,
         COALESCE(tp, 0) AS tp
  FROM cls c LEFT JOIN nt ON c.cand = nt.lang
             LEFT JOIN np ON c.cand = np.lang
             LEFT JOIN tpc ON c.cand = tpc.lang
)
SELECT lang, n_true, n_pred, tp,
       CASE WHEN n_pred = 0 THEN NULL
            ELSE round(CAST(tp AS DOUBLE) / n_pred, 6) END AS prec,
       CASE WHEN n_true = 0 THEN NULL
            ELSE round(CAST(tp AS DOUBLE) / n_true, 6) END AS rec,
       CASE WHEN n_pred + n_true = 0 THEN NULL
            ELSE round(2.0 * CAST(tp AS DOUBLE) / (n_pred + n_true), 6) END AS f1
FROM j ORDER BY lang"""


SQL_LANG_ID_TRAIN = _sql_lang_id_train()
SQL_LANG_ID_APPLY = _sql_lang_id_apply()
SQL_LANG_ID_EVAL = _sql_lang_id_eval()


def q_quality_calibration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """See the acceptance-report notes in the module docstring. Held-out docs (the slice the trainer
    never saw — calibration on training data flatters the model,
    shared slice definition: ``_held_docs``) are scored with the
    final-round weights, the sigmoid is quantized to p_micro =
    round(1e6 / (1 + exp(-z/1e6))) per doc (BIGINT; the same
    micro-quantization discipline as the trainer's gradient, though a
    different double expression — the trainer rounds (p - y) * 1e6 —
    so the two are not claimed bit-identical at .5 boundaries), and
    docs land in decile bins by integer division. p_micro = 1_000_000
    (p rounding to exactly 1) would index bin 10, hence the
    least(9, ...) clamp on both sides.

    Output per bin: n_docs, n_pos (teacher label), sum_p_micro, and
    the three 6dp-rounded diagnostics — frac_pos (observed rate),
    mean_p (predicted rate), gap (frac_pos - mean_p; sums to ~0 times
    weights iff calibrated). Docs with no tokens score nothing and
    drop on both sides (explode/unnest agree)."""
    w_final = _train_traj(spark, sf_dir)[-1]
    held = _held_docs(spark, sf_dir)
    z = _doc_scores(_bucket_counts(held, ["y"]), w_final, ["y"])
    p_micro = (
        F.round(
            F.lit(1000000.0)
            / (
                F.lit(1.0)
                + F.exp(
                    -(F.col("z_micro").cast("double") / F.lit(1000000.0))
                )
            )
        )
        .cast("long")
        .alias("p_micro")
    )
    binned = z.select(
        "y",
        p_micro,
    ).select(
        "y",
        "p_micro",
        F.least(
            F.lit(9).cast("long"),
            F.expr("CAST(p_micro DIV 100000 AS BIGINT)"),
        ).alias("bin"),
    )
    agg = binned.groupBy("bin").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum("y").cast("long").alias("n_pos"),
        F.sum("p_micro").cast("long").alias("sum_p_micro"),
    )
    nd = F.col("n_docs").cast("double")
    frac_pos = F.round(F.col("n_pos").cast("double") / nd, 6)
    mean_p = F.round(
        F.col("sum_p_micro").cast("double") / (nd * F.lit(1000000.0)), 6
    )
    return agg.select(
        "bin",
        "n_docs",
        "n_pos",
        "sum_p_micro",
        frac_pos.alias("frac_pos"),
        mean_p.alias("mean_p"),
        F.round(frac_pos - mean_p, 6).alias("gap"),
    ).orderBy("bin")


def q_tokenizer_fertility(spark: SparkSession, sf_dir: str) -> DataFrame:
    """See the acceptance-report notes in the module docstring. The stashed BPE vocabulary maps every
    corpus word to its trained symbol count; fertility per language is
    the shared ``_vocab_token_counts`` inference shape (the one
    ``bpe_apply`` uses, keyed on lang instead of doc_id) + a
    per-language rollup — the corpus never re-tokenizes per merge
    rule, and the rollup shuffles #languages rows.

    Output per lang: n_words, n_bpe_tokens, n_chars (whitespace-token
    characters, the denominator that ignores the whitespace the
    tokenizer never sees), and the two integral micro-ratios. Docs
    with no tokens contribute nothing; a NULL lang groups as its own
    row (both engines)."""
    agg = (
        _vocab_token_counts(spark, sf_dir, ["lang"])
        .groupBy("lang")
        .agg(
            F.sum("k").cast("long").alias("n_words"),
            F.sum(F.col("k") * F.col("n_sym")).cast("long").alias("n_bpe_tokens"),
            F.sum(F.col("k") * F.length("tok")).cast("long").alias("n_chars"),
        )
    )
    return agg.select(
        "lang",
        "n_words",
        "n_bpe_tokens",
        "n_chars",
        F.expr("CAST(n_bpe_tokens * 1000000 DIV n_words AS BIGINT)").alias(
            "bpe_per_word_micro"
        ),
        F.expr("CAST(n_chars * 1000000 DIV n_bpe_tokens AS BIGINT)").alias(
            "chars_per_bpe_micro"
        ),
    ).orderBy("lang")


# --- SQL mirrors ------------------------------------------------------------


def _sql_quality_calibration() -> str:
    """Training replay (the shared ``_sql_train_prefix`` chain — ONE
    definition of the trainer across the family) + held-out scoring +
    the identical micro-quantized binning."""
    return f"""{_sql_train_prefix()},
{_sql_held_cte("hl")},
{_sql_bucket_cte("hl", "y", "cf", "cx")},
{_sql_score_cte("cx", f"w{_QT_ROUNDS}", "cz", "y", "z_micro")},
pm AS (
  SELECT y,
         CAST(round(1000000.0 /
                    (1.0 + exp(-(CAST(z_micro AS DOUBLE) / 1000000.0))))
              AS BIGINT) AS p_micro
  FROM cz
),
bn AS (
  SELECT y, p_micro, least(9, p_micro // 100000) AS bin FROM pm
),
ag AS (
  SELECT bin,
         CAST(count(*) AS BIGINT) AS n_docs,
         CAST(sum(y) AS BIGINT) AS n_pos,
         CAST(sum(p_micro) AS BIGINT) AS sum_p_micro
  FROM bn GROUP BY bin
)
SELECT bin, n_docs, n_pos, sum_p_micro,
       round(CAST(n_pos AS DOUBLE) / CAST(n_docs AS DOUBLE), 6) AS frac_pos,
       round(CAST(sum_p_micro AS DOUBLE)
             / (CAST(n_docs AS DOUBLE) * 1000000.0), 6) AS mean_p,
       round(round(CAST(n_pos AS DOUBLE) / CAST(n_docs AS DOUBLE), 6)
             - round(CAST(sum_p_micro AS DOUBLE)
                     / (CAST(n_docs AS DOUBLE) * 1000000.0), 6), 6) AS gap
FROM ag ORDER BY bin"""


def _sql_tokenizer_fertility() -> str:
    """The shared ``_bpe_chain_sql`` trainer replay (vocab v{N} after
    the unrolled merge rounds) + the per-language rollup."""

    return f"""{_bpe_chain_sql()},
{_sql_vocab_counts_cte("lang", "lw")},
fa AS (
  SELECT lang,
         CAST(sum(k) AS BIGINT) AS n_words,
         CAST(sum(k * len(v.s)) AS BIGINT) AS n_bpe_tokens,
         CAST(sum(k * length(lw.tok)) AS BIGINT) AS n_chars
  FROM lw JOIN v{_BPT_ROUNDS} v ON lw.tok = v.tok
  GROUP BY lang
)
SELECT lang, n_words, n_bpe_tokens, n_chars,
       CAST(n_bpe_tokens * 1000000 // n_words AS BIGINT) AS bpe_per_word_micro,
       CAST(n_chars * 1000000 // n_bpe_tokens AS BIGINT) AS chars_per_bpe_micro
FROM fa ORDER BY lang"""


# --- epoch_mix_plan ---------------------------------------------------------

_EMP_MAX_EPOCHS = 3  # per-source repetition cap (the data-recipe knob)
_EMP_BUDGET_MULT = 2  # token budget = 2x the corpus (forces saturation)


def q_epoch_mix_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Epoch-capped token-budget allocation across sources — the
    mixture-recipe computation (LLaMA/DoReMi-style data recipes cap
    how many epochs any one source may repeat and redistribute the
    overflow): allocate a global budget B = {_EMP_BUDGET_MULT}x corpus
    tokens across sources proportionally to the shared target weights
    (``_src_weight_col``), capped at capacity c_i =
    {_EMP_MAX_EPOCHS} x n_tokens_i, with the overflow of saturated
    sources waterfalled onto the rest.

    The waterfill is CLOSED-FORM, not iterative: sorted ascending by
    capacity-per-weight, the saturated set is a prefix, and row i is
    saturated iff c_i * W_from_i <= (B - C_before_i) * w_i — one
    prefix-sum window over the per-source frame decides every row
    (the classic waterfilling prefix property). Every quantity is
    exact BIGINT: weights are small integers, the ratio sort key is
    c_i * (12 DIV w_i) (12 = lcm(1..4), so the division is exact),
    saturation is cross-multiplied, and unsaturated allocations floor
    via integral division (the undistributed remainder is < sum of
    unsaturated weights, reported implicitly by sum(alloc) < B). No
    float exists anywhere in the entry.

    Scale shape: ONE corpus scan -> per-source token-count agg
    (map-side combinable; no explode — F.size on the token array),
    localCheckpoint'ed because three downstream branches (budget
    total, saturated/unsaturated sums, final output) would each
    re-run the corpus scan from lineage; everything after runs on the
    #sources-row checkpointed frame, whose window sort is bounded by
    source cardinality, not corpus size (the source_mixture /
    hybrid_rrf precedent). Overflow envelope: B * max_w must stay
    under 2^63 — ~2.3e18 / 4 tokens, far past any real corpus."""
    from wq_data_pipeline_spark.operators.text import tokens
    from wq_data_pipeline_spark.sources.testdata import load_table

    d = load_table(spark, sf_dir, "documents")
    per = (
        d.groupBy("source")
        .agg(
            # coalesce: a source whose every text is NULL still gets a
            # row (the group comes from documents) — both engines must
            # report 0, not NULL
            F.coalesce(F.sum(F.size(tokens("text"))), F.lit(0))
            .cast("long")
            .alias("n_tokens")
        )
        .withColumn("w", _src_weight_col())
        .withColumn(
            "capacity",
            (F.lit(_EMP_MAX_EPOCHS) * F.col("n_tokens")).cast("long"),
        )
        .withColumn("r_key", F.expr("capacity * (12 DIV w)"))
        .localCheckpoint(eager=True)
    )
    tot = per.agg(
        (F.sum("n_tokens") * F.lit(_EMP_BUDGET_MULT)).cast("long").alias("b")
    )
    f = per.crossJoin(F.broadcast(tot))
    win = Window.orderBy("r_key", "source")
    c_before = F.coalesce(
        F.sum("capacity").over(
            win.rowsBetween(Window.unboundedPreceding, -1)
        ),
        F.lit(0).cast("long"),
    )
    w_from = F.sum("w").over(
        win.rowsBetween(Window.currentRow, Window.unboundedFollowing)
    )
    f = f.withColumn(
        "saturated",
        F.col("capacity") * w_from <= (F.col("b") - c_before) * F.col("w"),
    )
    sums = f.agg(
        F.coalesce(
            F.sum(F.when(F.col("saturated"), F.col("capacity"))), F.lit(0)
        )
        .cast("long")
        .alias("c_sat"),
        F.coalesce(
            F.sum(F.when(~F.col("saturated"), F.col("w"))), F.lit(0)
        )
        .cast("long")
        .alias("w_unsat"),
    )
    out = f.crossJoin(F.broadcast(sums)).withColumn(
        "alloc_tokens",
        F.when(F.col("saturated"), F.col("capacity")).otherwise(
            F.expr("(b - c_sat) * w DIV greatest(w_unsat, 1)")
        ),
    )
    return out.select(
        "source",
        "n_tokens",
        "w",
        "capacity",
        "saturated",
        "alloc_tokens",
        F.expr(
            "CASE WHEN n_tokens = 0 THEN CAST(0 AS BIGINT) "
            "ELSE alloc_tokens * 1000000 DIV n_tokens END"
        ).alias("epochs_micro"),
    ).orderBy("source")


def _sql_epoch_mix_plan() -> str:

    return f"""
WITH per AS (
  SELECT source,
         CAST(coalesce(sum(len(list_filter(string_split_regex(lower(text), '\\s+'), x -> x <> ''))), 0) AS BIGINT) AS n_tokens,
         {_SQL_SRC_WEIGHT} AS w
  FROM documents GROUP BY source
),
cap AS (
  SELECT source, n_tokens, w,
         CAST({_EMP_MAX_EPOCHS} * n_tokens AS BIGINT) AS capacity,
         CAST(({_EMP_MAX_EPOCHS} * n_tokens) * (12 // w) AS BIGINT) AS r_key
  FROM per
),
tot AS (SELECT CAST(sum(n_tokens) * {_EMP_BUDGET_MULT} AS BIGINT) AS b FROM cap),
sat AS (
  SELECT cap.*, tot.b,
         capacity * sum(w) OVER (ORDER BY r_key, source
                                 ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING)
           <= (tot.b - COALESCE(sum(capacity) OVER (ORDER BY r_key, source
                                 ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)) * w
           AS saturated
  FROM cap CROSS JOIN tot
),
sums AS (
  SELECT CAST(COALESCE(sum(CASE WHEN saturated THEN capacity END), 0) AS BIGINT) AS c_sat,
         CAST(COALESCE(sum(CASE WHEN NOT saturated THEN w END), 0) AS BIGINT) AS w_unsat
  FROM sat
)
SELECT source, n_tokens, w, capacity, saturated,
       CAST(CASE WHEN saturated THEN capacity
                 ELSE (b - c_sat) * w // greatest(w_unsat, 1) END AS BIGINT) AS alloc_tokens,
       CAST(CASE WHEN n_tokens = 0 THEN 0
                 ELSE (CASE WHEN saturated THEN capacity
                            ELSE (b - c_sat) * w // greatest(w_unsat, 1) END) * 1000000 // n_tokens
            END AS BIGINT) AS epochs_micro
FROM sat CROSS JOIN sums ORDER BY source"""


SQL_QUALITY_CALIBRATION = _sql_quality_calibration()
SQL_TOKENIZER_FERTILITY = _sql_tokenizer_fertility()
SQL_EPOCH_MIX_PLAN = _sql_epoch_mix_plan()


ENTRIES = {
    "bigram_lm_score": (q_bigram_lm_score, SQL_BIGRAM_LM_SCORE),
    "blocklist_filter": (q_blocklist_filter, SQL_BLOCKLIST_FILTER),
    "bpe_apply": (q_bpe_apply, SQL_BPE_APPLY),
    "bpe_pair_counts": (q_bpe_pair_counts, SQL_BPE_PAIR_COUNTS),
    "bpe_train": (q_bpe_train, SQL_BPE_TRAIN),
    "ccnet_buckets": (q_ccnet_buckets, SQL_CCNET_BUCKETS),
    "chunk_documents": (q_chunk_documents, SQL_CHUNK_DOCS),
    "corpus_manifest": (q_corpus_manifest, SQL_CORPUS_MANIFEST),
    "corpus_rollup": (q_corpus_rollup, SQL_CORPUS_ROLLUP),
    "corpus_shuffle": (q_corpus_shuffle, SQL_CORPUS_SHUFFLE),
    "curation_funnel": (q_curation_funnel, SQL_CURATION_FUNNEL),
    "doc_filter": (q_doc_filter, SQL_DOC_FILTER),
    "domain_rebalance": (q_domain_rebalance, SQL_DOMAIN_REBALANCE),
    "domain_top_cap": (q_domain_top_cap, SQL_DOMAIN_TOP_CAP),
    "dsir_weights": (q_dsir_weights, SQL_DSIR_WEIGHTS),
    "epoch_mix_plan": (q_epoch_mix_plan, SQL_EPOCH_MIX_PLAN),
    "hash_split": (q_hash_split, SQL_HASH_SPLIT),
    "lang_id": (q_lang_id, SQL_LANG_ID),
    "lang_id_apply": (q_lang_id_apply, SQL_LANG_ID_APPLY),
    "lang_id_eval": (q_lang_id_eval, SQL_LANG_ID_EVAL),
    "lang_id_train": (q_lang_id_train, SQL_LANG_ID_TRAIN),
    "leak_free_split": (q_leak_free_split, SQL_LEAK_FREE_SPLIT),
    "length_buckets": (q_length_buckets, SQL_LENGTH_BUCKETS),
    "mix_report": (q_mix_report, SQL_MIX_REPORT),
    "ngram_novelty": (q_ngram_novelty, SQL_NGRAM_NOVELTY),
    "pack_assignments": (q_pack_assignments, SQL_PACK_ASSIGNMENTS),
    "pii_scan": (q_pii_scan, SQL_PII_SCAN),
    "quality_calibration": (q_quality_calibration, SQL_QUALITY_CALIBRATION),
    "quality_classifier": (q_quality_classifier, SQL_QUALITY_CLASSIFIER),
    "quality_deciles": (q_quality_deciles, SQL_QUALITY_DECILES),
    "quality_train": (q_quality_train, SQL_QUALITY_TRAIN),
    "quality_train_apply": (q_quality_train_apply, SQL_QUALITY_TRAIN_APPLY),
    "quality_train_bigram": (q_quality_train_bigram, SQL_QUALITY_TRAIN_BIGRAM),
    "quality_train_eval": (q_quality_train_eval, SQL_QUALITY_TRAIN_EVAL),
    "repetition_stats": (q_repetition_stats, SQL_REPETITION),
    "sequence_pack": (q_sequence_pack, SQL_SEQUENCE_PACK),
    "source_mixture": (q_source_mixture, SQL_SOURCE_MIXTURE),
    "stratified_sample": (q_stratified_sample, SQL_STRATIFIED_SAMPLE),
    "text_quality": (q_text_quality, SQL_TEXT_QUALITY),
    "text_token_stats": (q_text_token_stats, SQL_TOKEN_STATS),
    "token_budget_fill": (q_token_budget_fill, SQL_TOKEN_BUDGET_FILL),
    "token_entropy": (q_token_entropy, SQL_TOKEN_ENTROPY),
    "token_kl_drift": (q_token_kl_drift, SQL_TOKEN_KL_DRIFT),
    "tokenizer_fertility": (q_tokenizer_fertility, SQL_TOKENIZER_FERTILITY),
    "unigram_logprob": (q_unigram_logprob, SQL_UNIGRAM_LOGPROB),
    "vocab_coverage": (q_vocab_coverage, SQL_VOCAB_COVERAGE),
    "zipf_slope": (q_zipf_slope, SQL_ZIPF_SLOPE),
}
