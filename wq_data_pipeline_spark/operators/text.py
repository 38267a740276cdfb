"""Text-analysis operators for large-scale training-data pipelines:
tokenization, quality scoring, language ID, fingerprinting.

All pure Column algebra (regexp/array functions) — no Python UDFs, so
the whole stage codegens and scales linearly with input splits. These
are the driver's north-star extensions (BASELINE.json), not reference
operators.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, functions as F

TOKEN_SPLIT_RE = r"\s+"
# BPE-ish word/number/punct splitter for token *counting* (a cheap
# stand-in for a real tokenizer's pre-tokenization regex).
BPE_ISH_RE = r"[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]"

STOPWORDS = ("the", "a", "of", "to", "and", "is", "in", "it", "on", "for")

LANG_MARKERS = {
    "en": ("the", "and", "of", "is", "to"),
    "de": ("der", "die", "und", "das", "ist"),
    "es": ("el", "la", "los", "es", "y"),
    "fr": ("le", "la", "les", "est", "et"),
}


def tokens(text: str | Column) -> Column:
    """Whitespace tokens of the lowercased text (empty strings removed)."""
    t = F.col(text) if isinstance(text, str) else text
    return F.filter(F.split(F.lower(t), TOKEN_SPLIT_RE), lambda x: x != "")


def token_count(text: str | Column) -> Column:
    return F.size(tokens(text))


def bpe_ish_count(text: str | Column) -> Column:
    """Token count under the BPE-ish pre-tokenizer regex."""
    t = F.col(text) if isinstance(text, str) else text
    return F.size(F.regexp_extract_all(t, F.lit(BPE_ISH_RE), F.lit(0)))


def distinct_words(text: str | Column) -> Column:
    return F.array_distinct(tokens(text))


def stopword_count(text: str | Column, words=STOPWORDS) -> Column:
    t = F.col(text) if isinstance(text, str) else text
    pat = r"\b(" + "|".join(words) + r")\b"
    return F.size(F.regexp_extract_all(F.lower(t), F.lit(pat), F.lit(0)))


def punct_count(text: str | Column) -> Column:
    t = F.col(text) if isinstance(text, str) else text
    return F.size(F.regexp_extract_all(t, F.lit(r"[^A-Za-z0-9\s]"), F.lit(0)))


def quality_features(df: DataFrame, text: str = "text") -> DataFrame:
    """Length / punctuation-ratio / stopword-ratio features + a scalar
    quality score. The score is an explicit expression tree so it is
    bit-deterministic across engines."""
    n_tok = token_count(text)
    n_stop = stopword_count(text)
    n_punct = punct_count(text)
    n_chars = F.length(F.col(text))
    stop_ratio = F.when(n_tok > 0, n_stop.cast("double") / n_tok.cast("double")).otherwise(0.0)
    punct_ratio = F.when(n_chars > 0, n_punct.cast("double") / n_chars.cast("double")).otherwise(0.0)
    mean_tok_len = F.when(
        n_tok > 0,
        F.aggregate(tokens(text), F.lit(0), lambda acc, x: acc + F.length(x)).cast("double")
        / n_tok.cast("double"),
    ).otherwise(0.0)
    score = (
        F.lit(0.4) * F.least(n_tok.cast("double") / F.lit(100.0), F.lit(1.0))
        + F.lit(0.3) * stop_ratio
        + F.lit(0.3) * (F.lit(1.0) - F.least(punct_ratio * F.lit(10.0), F.lit(1.0)))
    )
    return (
        df.withColumn("n_tokens", n_tok)
        .withColumn("n_stopwords", n_stop)
        .withColumn("n_punct", n_punct)
        .withColumn("stop_ratio", stop_ratio)
        .withColumn("punct_ratio", punct_ratio)
        .withColumn("mean_token_len", mean_tok_len)
        .withColumn("quality_score", score)
    )


def lang_scores(text: str | Column) -> dict[str, Column]:
    """Per-language stopword-hit counts (n-gram heuristic) + a CJK
    character count for zh."""
    t = F.lower(F.col(text) if isinstance(text, str) else text)
    out: dict[str, Column] = {}
    for lang, words in LANG_MARKERS.items():
        pat = r"\b(" + "|".join(words) + r")\b"
        out[lang] = F.size(F.regexp_extract_all(t, F.lit(pat), F.lit(0)))
    out["zh"] = F.size(F.regexp_extract_all(t, F.lit(r"[一-鿿]"), F.lit(0)))
    return out


def predict_lang(text: str | Column) -> Column:
    """argmax over lang_scores with a fixed tie-break order
    (en > de > es > fr > zh); 'und' when no marker hits."""
    s = lang_scores(text)
    best = F.greatest(*s.values())
    expr = F.lit("und")
    for lang in reversed(["en", "de", "es", "fr", "zh"]):
        expr = F.when((s[lang] == best) & (best > 0), lang).otherwise(expr)
    return expr


def shingles_from_tokens(toks: Column, n: int) -> Column:
    """Word n-gram shingles of a token array as an array<string>.
    Built with sequence+transform — no UDF, no explode.

    slice-based (r12): the per-position lambda references ``toks``
    ONCE (concat_ws over slice) instead of once per gram word — when
    the caller passes an unmaterialized expression like
    ``tokens("text")``, every reference INSIDE the transform lambda
    re-evaluates the whole tokenize per position, so the n-element_at
    form cost n tokenize passes per gram. Hot callers should STILL
    materialize the token array into a real column first (one
    tokenize per document; measured 4-6x on the minhash signature
    stage, results bit-identical)."""
    k = F.size(toks)
    idx = F.sequence(F.lit(0), F.greatest(k - n, F.lit(-1)))
    return F.when(
        k >= n,
        F.transform(idx, lambda i: F.concat_ws(" ", F.slice(toks, i + 1, n))),
    ).otherwise(F.array().cast("array<string>"))


def repetition_features(
    df: DataFrame,
    text: str = "text",
    id_col: str = "doc_id",
    grams: tuple[int, ...] = (2, 3),
) -> DataFrame:
    """Gopher-style repetition statistics per document: duplicate-word
    fraction and the share of the single most frequent word n-gram
    (Rae et al. 2021 §A1.1 use these to drop low-quality repetitive
    web text before training).

    Scale shape: per-n-gram counts go through explode -> two hash
    aggregations keyed by (doc, gram) then doc — map-side combinable,
    never materializes a per-doc map, so a 100-TB corpus just means
    more partitions. The per-doc token/distinct counts are narrow
    array ops on the same scan.

    Output: (id, n_tokens, n_distinct, dup_word_frac,
    top{n}gram_share ...), where shares are NULL for docs shorter than
    the gram size.
    """
    base = df.select(F.col(id_col), tokens(text).alias("_toks"))
    out = base.select(
        id_col,
        F.size("_toks").alias("n_tokens"),
        F.size(F.array_distinct("_toks")).alias("n_distinct"),
    ).withColumn(
        "dup_word_frac",
        F.when(
            F.col("n_tokens") > 0,
            F.lit(1.0)
            - F.col("n_distinct").cast("double") / F.col("n_tokens").cast("double"),
        ),
    )
    for n in grams:
        g = base.select(
            id_col, F.explode(shingles_from_tokens(F.col("_toks"), n)).alias("_g")
        )
        top = (
            g.groupBy(id_col, "_g")
            .agg(F.count(F.lit(1)).alias("_c"))
            .groupBy(id_col)
            .agg(F.sum("_c").alias("_tot"), F.max("_c").alias("_top"))
            .select(
                id_col,
                (F.col("_top").cast("double") / F.col("_tot").cast("double")).alias(
                    f"top{n}gram_share"
                ),
            )
        )
        out = out.join(top, id_col, "left")
    return out


def chunk_documents(
    df: DataFrame,
    text: str = "text",
    id_col: str = "doc_id",
    chunk_tokens: int = 64,
    overlap: int = 8,
) -> DataFrame:
    """Split each document into fixed-size token windows with overlap
    — the context-window packing primitive of a training-data
    pipeline (every chunk starts ``chunk_tokens - overlap`` tokens
    after the previous one; the final partial chunk is kept).

    Pure Column algebra: tokens once, chunk start offsets via
    ``sequence`` with the stride, one ``explode`` — no UDF, the
    explode fans out in place (narrow), so this scales with input
    splits and never shuffles. Output one row per chunk:
    (id, chunk_id, chunk_start_tok, n_chunk_tokens, chunk_text).
    """
    if overlap >= chunk_tokens:
        raise ValueError("overlap must be < chunk_tokens")
    stride = chunk_tokens - overlap
    toks = tokens(text)
    n = F.size(toks)
    # starts: 0, stride, 2*stride, ... while start < max(n - overlap, 1)
    # — every chunk after the first contributes at least one NEW token;
    # empty docs emit no chunks
    m = F.greatest(n - F.lit(overlap), F.lit(1))
    last_start = (((m - 1) / stride).cast("int") * stride).cast("int")
    starts = F.when(n > 0, F.sequence(F.lit(0), last_start, F.lit(stride))).otherwise(
        F.array().cast("array<int>")
    )
    d = df.withColumn("_toks", toks).withColumn(
        "_start", F.explode(starts)
    )
    chunk = F.slice(F.col("_toks"), F.col("_start") + 1, chunk_tokens)
    return d.select(
        F.col(id_col),
        (F.col("_start") / stride).cast("int").alias("chunk_id"),
        F.col("_start").alias("chunk_start_tok"),
        F.size(chunk).alias("n_chunk_tokens"),
        F.concat_ws(" ", chunk).alias("chunk_text"),
    )


# PII patterns restricted to the regex subset Java (Spark) and RE2
# (DuckDB) agree on: no lookaround, no backrefs. Applied in dict order
# (emails before bare-number rules), and each pattern is counted
# against the PROGRESSIVELY-REDACTED text, so digits consumed by an
# earlier pattern (e.g. 123456@x.com) are never double-counted by a
# later one.
PII_PATTERNS = {
    "email": r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}",
    "ipv4": r"\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b",
    "phone": r"\+\d{1,3}[- ]\d{3}[- ]\d{4}",
    "id_number": r"\b\d{6,}\b",
}


def pii_scan(
    df: DataFrame,
    text: str = "text",
    id_col: str = "doc_id",
    patterns: dict[str, str] | None = None,
) -> DataFrame:
    """PII detection + redaction — the scrubbing pass a training-data
    pipeline runs before anything leaves the raw zone: per-pattern
    match counts and the text with every match replaced by a
    ``<type>`` placeholder (count-then-replace, sequentially, in
    ``patterns`` order — each count sees the text with every earlier
    pattern already redacted, so one substring is attributed to
    exactly one PII type).

    Pure regexp Column algebra — codegens JVM-side (the repeated
    replace chain is shared across counts by whole-stage-codegen
    subexpression elimination), no Python boundary, scales linearly
    with input splits.
    """
    if patterns is None:
        patterns = PII_PATTERNS
    cur = F.col(text)
    cols = [F.col(id_col)]
    for name, pat in patterns.items():
        cols.append(
            F.size(F.regexp_extract_all(cur, F.lit(pat), F.lit(0))).alias(f"n_{name}")
        )
        cur = F.regexp_replace(cur, pat, f"<{name}>")
    cols.append(cur.alias("redacted"))
    return df.select(*cols)


def gram_hash(g: Column) -> Column:
    """60-bit positive integer hash of a shingle string: first 15 hex
    digits of md5 — portable (identical in DuckDB via
    ('0x' || substr(md5(g), 1, 15))::BIGINT), overflow-free in int64."""
    return F.conv(F.substring(F.md5(g), 1, 15), 16, 10).cast("long")


def winnow_fingerprints(
    df: DataFrame,
    text: str = "text",
    id_col: str = "doc_id",
    k: int = 3,
    w: int = 4,
) -> DataFrame:
    """Winnowing document fingerprints (Schleimer, Wilkerson & Aiken,
    SIGMOD 2003 — the MOSS algorithm): hash every word k-gram, slide a
    w-window over the hash sequence, keep each window's minimum, and
    emit the distinct selected hashes as the document's fingerprint
    set. Any shared token run of length >= w + k - 1 between two docs
    is guaranteed to share at least one fingerprint; docs with fewer
    than w k-grams contribute the min over all their grams (one
    window).

    Scale shape: tokens are posexploded to rows so every k-gram is
    hashed exactly ONCE, then window mins + the per-doc collect ride a
    single hash-partition-by-id exchange — O(n) work per doc, linear
    in corpus size. (The r2 array formulation kept the md5 hash array
    as an *unbound expression* inside the per-window lambda; Catalyst
    higher-order functions don't do common-subexpression elimination,
    so the whole tokenize+hash chain re-ran at every window position —
    O(n²·md5) per doc, which alone timed out the round-2 driver
    bench. The one skinny shuffle here is the fix, not a cost.)

    Output: (id, n_grams, n_fingerprints, fingerprints
    array<bigint> sorted ascending).
    """
    from pyspark.sql import Window

    t = df.select(
        F.col(id_col).alias("_id"),
        F.posexplode_outer(tokens(text)).alias("_pos", "_tok"),
    )
    ws = Window.partitionBy("_id").orderBy("_pos")
    # token row p carries the k-gram starting at p; rows within k-1 of
    # the end (lead null) carry no gram -> null hash, ignored by min
    gram = F.concat_ws(
        " ", F.col("_tok"), *[F.lead("_tok", j).over(ws) for j in range(1, k)]
    )
    last = F.lead("_tok", k - 1).over(ws) if k > 1 else F.col("_tok")
    g = t.select(
        "_id", "_pos", F.when(last.isNotNull(), gram_hash(gram)).alias("_h")
    )
    g2 = g.select(
        "_id",
        "_pos",
        F.min("_h").over(ws.rowsBetween(Window.currentRow, w - 1)).alias("_wmin"),
        F.count("_h").over(Window.partitionBy("_id")).alias("_ng"),
    )
    # winnowing selects windows starting at gram index 0..max(ng-w, 0);
    # gram index == token position, contiguous from 0
    sel = F.when(
        F.col("_pos") <= F.greatest(F.col("_ng") - w, F.lit(0)), F.col("_wmin")
    )
    agg = g2.groupBy("_id").agg(
        F.max("_ng").alias("_ngm"),
        F.array_sort(F.array_distinct(F.collect_list(sel))).alias("fingerprints"),
    )
    return agg.select(
        F.col("_id").alias(id_col),
        F.col("_ngm").cast("int").alias("n_grams"),
        F.size("fingerprints").alias("n_fingerprints"),
        F.col("fingerprints"),
    )


def winnow_matches(
    df: DataFrame,
    text: str = "text",
    id_col: str = "doc_id",
    k: int = 3,
    w: int = 4,
    min_shared: int = 3,
    max_df: int = 50,
) -> DataFrame:
    """Cross-document fingerprint matching (the plagiarism / overlap
    scan built on winnowing): explode each doc's fingerprint set into
    an inverted index, drop fingerprints occurring in more than
    ``max_df`` docs (stop-gram guard — at corpus scale a hot
    fingerprint would otherwise produce a quadratic bucket), self-join
    on the fingerprint key, and count shared fingerprints per doc
    pair.

    Scale shape: the only extra shuffle is on the fingerprint key;
    bucket fan-out is bounded by ``max_df``, so worst-case work per
    fingerprint is max_df^2 regardless of corpus size. The df-count
    guard is a count() window over the SAME fp partitioning (not a
    separate aggregate + semi-join), and both self-join sides are the
    identical subplan, so the fingerprint pipeline executes once and
    the join sides come from one ReusedExchange — no triple
    recomputation of the tokenize/hash/winnow scan.

    Output: (doc_a, doc_b, n_shared) with doc_a < doc_b and
    n_shared >= min_shared.
    """
    from pyspark.sql import Window

    fp = winnow_fingerprints(df, text, id_col, k, w).select(
        F.col(id_col), F.explode("fingerprints").alias("fp")
    )
    fp = (
        fp.withColumn("_df", F.count(F.lit(1)).over(Window.partitionBy("fp")))
        .filter(F.col("_df") <= max_df)
        .drop("_df")
    )
    a = fp.select(F.col(id_col).alias("doc_a"), "fp")
    b = fp.select(F.col(id_col).alias("doc_b"), "fp")
    return (
        a.join(b, "fp")
        .filter(F.col("doc_a") < F.col("doc_b"))
        .groupBy("doc_a", "doc_b")
        .agg(F.count(F.lit(1)).alias("n_shared"))
        .filter(F.col("n_shared") >= min_shared)
    )


def filter_decision(
    df: DataFrame,
    text: str = "text",
    id_col: str = "doc_id",
    min_tokens: int = 25,
    max_dup_word_frac: float = 0.6,
    max_top2gram_share: float = 0.2,
    min_mean_tok_len: float = 3.0,
    max_mean_tok_len: float = 10.0,
    min_stop_ratio: float = 0.02,
) -> DataFrame:
    """Document keep/drop decision — the C4/Gopher-style quality gate
    a training-data pipeline applies after scoring (Raffel et al. 2020
    §2.2; Rae et al. 2021 §A1.1): combine length, repetition and
    stopword signals into one verdict plus the ordered list of failed
    rules, so downstream can both filter and audit drop reasons.

    Scale shape: quality features are narrow per-row algebra on the
    scan; the 2-gram repetition share joins in from one explode + two
    hash aggregations (map-side combinable); the rule evaluation is a
    literal array of CASE expressions — nothing here grows faster
    than the corpus. Rules that need a missing signal (e.g. 2-gram
    share on a 1-token doc) evaluate NULL and simply don't fire;
    ``too_short`` covers those docs.

    Output: (id, n_tokens, dup_word_frac, top2gram_share,
    reasons array<string> in fixed rule order, keep boolean).
    """
    q = quality_features(df, text)
    rep = repetition_features(df, text, id_col, grams=(2,))
    j = q.select(
        id_col, "n_tokens", "stop_ratio", "mean_token_len"
    ).join(rep.select(id_col, "dup_word_frac", "top2gram_share"), id_col)
    rules = [
        ("too_short", F.col("n_tokens") < min_tokens),
        ("too_repetitive", F.col("dup_word_frac") > max_dup_word_frac),
        ("ngram_repetition", F.col("top2gram_share") > max_top2gram_share),
        (
            "token_len_out_of_range",
            (F.col("mean_token_len") < min_mean_tok_len)
            | (F.col("mean_token_len") > max_mean_tok_len),
        ),
        ("low_stopword_ratio", F.col("stop_ratio") < min_stop_ratio),
    ]
    reasons = F.filter(
        F.array(*[F.when(cond, F.lit(name)) for name, cond in rules]),
        lambda x: x.isNotNull(),
    )
    return j.select(
        F.col(id_col),
        "n_tokens",
        "dup_word_frac",
        "top2gram_share",
        reasons.alias("reasons"),
        (F.size(reasons) == 0).alias("keep"),
    )


def doc_fingerprint(text: str | Column) -> Column:
    """Order-insensitive content fingerprint: md5 over the sorted
    distinct word set. Identical bags of words collide — the cheap
    first stage of near-dup detection (rolling-hash analog)."""
    return F.md5(F.concat_ws(" ", F.sort_array(distinct_words(text))))
