"""Multimodal family: binary-column plumbing and the real codec paths —
image near-dup fingerprints (average hash over decoded PNGs) and audio
energy features over WAV clips encoded and decoded with the stdlib
codecs, both through mapInPandas.

Content is synthesized deterministically from each document's content
digest, so the DuckDB oracles replay the same bytes (16-bit PCM
round-trips losslessly through the stdlib codec). NULL-text documents
have no digest to seed from and are excluded on both sides."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window, functions as F

from wq_data_pipeline_spark.operators.multimodal import decode_media
from wq_data_pipeline_spark.plans.corpus import _docs_parallel
from wq_data_pipeline_spark.sources.testdata import load_table


def q_multimodal_meta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Binary-column plumbing: encode text as bytes, JVM-side byte
    length + digest (the metadata layer of the multimodal schema)."""
    d = load_table(spark, sf_dir, "documents")
    content = F.encode(F.col("text"), "UTF-8")
    return d.select(
        "doc_id",
        F.octet_length(content).alias("n_bytes"),
        F.md5(content).alias("digest"),
    )


SQL_MULTIMODAL_META = """
SELECT doc_id, octet_length(encode(text)) AS n_bytes, md5(text) AS digest
FROM documents"""


def q_multimodal_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """mapInPandas decode plumbing over binary media (SURVEY §7 stage
    8): the full Arrow-batch pipeline — binary column in, magic-byte
    dispatch, DECODED_SCHEMA out. The text payloads are never
    PNG/WAV, so every row takes the deterministic fake-decoder branch
    (md5-byte-derived height/width/luma) — which IS SQL-expressible,
    so this entry is DuckDB-ORACLED (VERDICT r7 #5): the oracle
    re-derives each fake dimension from md5(text) byte arithmetic,
    checking media_id passthrough, Arrow batch integrity, schema, and
    the derivation bit-for-bit. The REAL stdlib PNG/WAV codec branch
    is covered by tests/test_codecs.py round-trips (binary fixtures
    aren't constructible in SQL)."""
    d = load_table(spark, sf_dir, "documents").select(
        F.col("doc_id").alias("media_id"),
        F.encode(F.col("text"), "UTF-8").alias("content"),
    )
    return decode_media(d, fake=True)


# the fake decoder's derivation, replayed byte-for-byte: digest byte
# i of md5(utf8(text)) == hex pair [2i+1, 2i+2] of DuckDB's md5();
# 1 + b%64 dims, b/255.0 luma are identical integer/IEEE ops
SQL_MULTIMODAL_DECODE = """
SELECT doc_id AS media_id,
       CAST(1 + ('0x' || substr(md5(text), 1, 2))::INT % 64 AS INT) AS height,
       CAST(1 + ('0x' || substr(md5(text), 3, 2))::INT % 64 AS INT) AS width,
       ('0x' || substr(md5(text), 5, 2))::INT / 255.0 AS mean_luma
FROM documents"""


def q_image_ahash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Image near-dup fingerprinting through the REAL codec path:
    deterministic 16×16 gray PNGs (pixels = md5 chain seeded by the
    document's content digest) are ENCODED with the stdlib PNG
    writer, decoded back, and average-hashed
    (``multimodal.perceptual_hash``); hashes group into visual-dup
    buckets. Duplicate documents produce identical images, so the
    is_dup_image column mirrors content dedup through the image
    pipeline end-to-end.

    ORACLED despite the codec: 8-bit gray PNG round-trips losslessly,
    so DuckDB can replay the expected pixels straight from the md5
    chain and recompute the all-integer aHash — the comparison
    cross-checks both the hash math AND the codec round-trip. Scale
    shape: two chained mapInPandas stages (one narrow Arrow pass, no
    shuffle between), then one hash agg on the 64-bit fingerprint.
    NULL-text docs are excluded symmetrically on both sides (a NULL
    doc has no content digest to seed the pixel chain)."""
    from wq_data_pipeline_spark.operators.multimodal import perceptual_hash

    d = (
        _docs_parallel(spark, sf_dir)
        .filter(F.col("text").isNotNull())
        .select(F.col("doc_id").alias("media_id"), "text")
    )

    from pyspark.sql import types as T

    media_schema = T.StructType(
        [
            T.StructField("media_id", T.LongType()),
            T.StructField("content", T.BinaryType()),
        ]
    )

    def _render(batches):
        import hashlib

        import pandas as pd

        from wq_data_pipeline_spark.operators.codecs import png_encode

        for pdf in batches:
            out = []
            for mid, text in zip(pdf["media_id"], pdf["text"]):
                seed = hashlib.md5(str(text).encode()).hexdigest()
                pixels = b"".join(
                    hashlib.md5(f"{seed}:{c}".encode()).digest() for c in range(16)
                )
                out.append(
                    {"media_id": int(mid), "content": png_encode(16, 16, 1, pixels)}
                )
            yield pd.DataFrame(out, columns=["media_id", "content"])

    media = d.mapInPandas(_render, media_schema)
    hashed = perceptual_hash(media)
    # bucket size as a WINDOW count (r13, guide §2.4): the old
    # groupBy(ahash)+join-back read `hashed` twice, so the whole
    # Python render+decode+hash chain (the entry's dominant cost, two
    # mapInPandas stages) executed TWICE per run — and the per-run
    # Python double-execution is exactly what kept tripping the
    # bench's worker-churn adjudication on this entry (VERDICT r12
    # #9). Same rows: count over the ahash partition == the joined
    # per-ahash count.
    from pyspark.sql import Window

    return hashed.withColumn(
        "n_same_hash", F.count(F.lit(1)).over(Window.partitionBy("ahash"))
    ).select(
        "media_id",
        "width",
        "height",
        "ahash",
        "n_same_hash",
        (F.col("n_same_hash") > 1).alias("is_dup_image"),
    )


# Oracle: replay the md5 pixel chain (PNG round-trip is lossless for
# 8-bit gray, pinned by tests/test_codecs.py), block-mean to 8x8 with
# floor division, threshold at the floor-mean of block means — every
# step integer, so the 64 bits match the engine's codec path exactly.
SQL_IMAGE_AHASH = """
WITH s AS (SELECT doc_id AS media_id, md5(text) AS seed FROM documents
           WHERE text IS NOT NULL),
idx AS (SELECT unnest(generate_series(0, 255)) AS i),
px AS (
  SELECT s.media_id, idx.i,
         ('0x' || substr(md5(s.seed || ':' || CAST(idx.i // 16 AS VARCHAR)),
                         (idx.i % 16) * 2 + 1, 2))::INT AS pix
  FROM s CROSS JOIN idx
),
blocks AS (
  SELECT media_id,
         ((i // 16) // 2) * 8 + ((i % 16) // 2) AS block,
         CAST(sum(pix) // 4 AS BIGINT) AS bm
  FROM px GROUP BY media_id, ((i // 16) // 2) * 8 + ((i % 16) // 2)
),
thr AS (SELECT media_id, CAST(sum(bm) // 64 AS BIGINT) AS t FROM blocks GROUP BY media_id),
bits AS (
  SELECT b.media_id,
         string_agg(CASE WHEN b.bm > t.t THEN '1' ELSE '0' END, '' ORDER BY b.block) AS ahash
  FROM blocks b JOIN thr t USING (media_id) GROUP BY b.media_id
),
cnt AS (SELECT ahash, count(*) AS n_same_hash FROM bits GROUP BY ahash)
SELECT media_id, 16 AS width, 16 AS height, ahash, n_same_hash,
       n_same_hash > 1 AS is_dup_image
FROM bits JOIN cnt USING (ahash)"""


# --- audio_energy -----------------------------------------------------------

_N_CHUNKS = 32  # md5 digests per clip; 8 int16 samples each -> 256 frames
_RATE = 8000


def q_audio_energy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Audio analytics through the REAL codec path: deterministic
    16-bit mono PCM clips (256 samples, little-endian int16 pairs from
    an md5 chain seeded by the document's content digest) are ENCODED
    with the stdlib ``wave`` writer, decoded back, and reduced to the
    exact-integer waveform features of
    :func:`multimodal.audio_features` — sum |v|, sum v², peak |v|,
    strict zero crossings. Duplicate documents produce byte-identical
    clips, so n_same_clip (count of clips sharing the full feature
    row) mirrors content dedup through the audio pipeline end-to-end —
    the WAV twin of ``image_ahash``.

    ORACLED despite the codec: 16-bit PCM round-trips losslessly
    (pinned by tests/test_codecs.py), so DuckDB replays the expected
    samples straight from the md5 chain and recomputes the all-integer
    features; sample_rate comes from the decoded header engine-side vs
    the constant oracle-side, cross-checking the header too. NULL-text
    docs are excluded symmetrically on both sides (a NULL doc has no
    content digest to seed the sample chain), so parity is NULL-safe
    by construction. Scale
    shape: two chained narrow mapInPandas stages (no shuffle between),
    then one window over the feature key."""
    from wq_data_pipeline_spark.operators.multimodal import audio_features
    from pyspark.sql import types as T

    d = (
        _docs_parallel(spark, sf_dir)
        .filter(F.col("text").isNotNull())
        .select(F.col("doc_id").alias("media_id"), "text")
    )

    media_schema = T.StructType(
        [
            T.StructField("media_id", T.LongType()),
            T.StructField("content", T.BinaryType()),
        ]
    )

    def _render(batches):
        import hashlib
        import struct

        import pandas as pd

        from wq_data_pipeline_spark.operators.codecs import wav_encode

        for pdf in batches:
            out = []
            for mid, text in zip(pdf["media_id"], pdf["text"]):
                seed = hashlib.md5(str(text).encode()).hexdigest()
                raw = b"".join(
                    hashlib.md5(f"{seed}:{c}".encode()).digest()
                    for c in range(_N_CHUNKS)
                )
                samples = [v for (v,) in struct.iter_unpack("<h", raw)]
                out.append(
                    {"media_id": int(mid), "content": wav_encode(samples, rate=_RATE)}
                )
            yield pd.DataFrame(out, columns=["media_id", "content"])

    feats = audio_features(d.mapInPandas(_render, media_schema))
    wdup = Window.partitionBy("sum_abs", "sum_sq", "peak_abs", "n_zero_cross")
    return feats.select(
        "media_id",
        "n_frames",
        "sample_rate",
        "sum_abs",
        "sum_sq",
        "peak_abs",
        "n_zero_cross",
        F.count(F.lit(1)).over(wdup).alias("n_same_clip"),
    )


# Replay: md5 hex digit pairs -> bytes; sample k of chunk c is bytes
# (2k, 2k+1) of md5(seed:c) little-endian -> u = b0 + 256*b1, signed
# v = u - 65536 when u >= 32768 (two's complement int16). Every
# feature is integer; v*lag(v) stays within INT32.
SQL_AUDIO_ENERGY = f"""
WITH s AS (SELECT doc_id AS media_id, md5(text) AS seed FROM documents
           WHERE text IS NOT NULL),
idx AS (SELECT unnest(generate_series(0, {_N_CHUNKS * 8 - 1})) AS i),
u AS (
  SELECT s.media_id, idx.i,
         ('0x' || substr(md5(s.seed || ':' || CAST(idx.i // 8 AS VARCHAR)),
                         (idx.i % 8) * 4 + 1, 2))::INT
       + 256 * ('0x' || substr(md5(s.seed || ':' || CAST(idx.i // 8 AS VARCHAR)),
                               (idx.i % 8) * 4 + 3, 2))::INT AS uv
  FROM s CROSS JOIN idx
),
v AS (
  SELECT media_id, i,
         CASE WHEN uv >= 32768 THEN uv - 65536 ELSE uv END AS v
  FROM u
),
z AS (
  SELECT media_id, v,
         CASE WHEN v * lag(v) OVER (PARTITION BY media_id ORDER BY i) < 0
              THEN 1 ELSE 0 END AS zc
  FROM v
),
f AS (
  SELECT media_id,
         CAST(count(*) AS BIGINT) AS n_frames,
         CAST({_RATE} AS INTEGER) AS sample_rate,
         CAST(sum(abs(v)) AS BIGINT) AS sum_abs,
         CAST(sum(CAST(v AS BIGINT) * v) AS BIGINT) AS sum_sq,
         CAST(max(abs(v)) AS INTEGER) AS peak_abs,
         CAST(sum(zc) AS BIGINT) AS n_zero_cross
  FROM z GROUP BY media_id
)
SELECT media_id, n_frames, sample_rate, sum_abs, sum_sq, peak_abs,
       n_zero_cross,
       count(*) OVER (PARTITION BY sum_abs, sum_sq, peak_abs, n_zero_cross)
         AS n_same_clip
FROM f"""


ENTRIES = {
    "audio_energy": (q_audio_energy, SQL_AUDIO_ENERGY),
    "image_ahash": (q_image_ahash, SQL_IMAGE_AHASH),
    "multimodal_decode": (q_multimodal_decode, SQL_MULTIMODAL_DECODE),
    "multimodal_meta": (q_multimodal_meta, SQL_MULTIMODAL_META),
}
