"""Multimodal column plumbing: image/audio/video as opaque ``binary``
columns with typed metadata, processed by Arrow-batched pandas UDFs
over ``mapInPandas``.

Decode is REAL for PNG and WAV via the stdlib codecs in
:mod:`wq_data_pipeline_spark.operators.codecs` (zlib inflate +
unfilter; ``wave``) — dispatch is magic-byte sniffed per payload.
Formats that need external codec libs (JPEG, MP3, video) raise
NotImplementedError unless ``fake=True``, in which case a
deterministic fake decoder produces (height, width, mean_luma) from
the byte content so the Spark-side plumbing — schema, batching,
partitioning — stays testable for those too.
"""

from __future__ import annotations

from collections.abc import Iterator

from pyspark.sql import DataFrame, functions as F
from pyspark.sql import types as T

MEDIA_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType()),
        T.StructField("content", T.BinaryType()),
        T.StructField("mime", T.StringType()),
        T.StructField("meta", T.MapType(T.StringType(), T.StringType())),
    ]
)

DECODED_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType()),
        T.StructField("height", T.IntegerType()),
        T.StructField("width", T.IntegerType()),
        T.StructField("mean_luma", T.DoubleType()),
    ]
)


def decode_media(df: DataFrame, fake: bool = False, batch_limit: int = 256) -> DataFrame:
    """Decode binary media via mapInPandas (Arrow batches).

    REAL for PNG and WAV (stdlib codecs, magic-byte dispatch):
    - PNG -> (height, width, mean_luma)
    - WAV -> (height=n_channels, width=n_frames, mean_luma=mean |amp|)
    Other formats raise NotImplementedError (JPEG/MP3/video need
    external libs) unless ``fake=True``, which derives deterministic
    pseudo dimensions from the bytes instead.
    """

    def _decode(batches: Iterator) -> Iterator:
        import hashlib

        import pandas as pd

        from wq_data_pipeline_spark.operators import codecs as CC

        for pdf in batches:
            out = []
            for mid, content in zip(pdf["media_id"], pdf["content"]):
                b = bytes(content)
                kind = CC.sniff(b)
                if kind == "png":
                    w, h, nch, pix = CC.png_decode(b)
                    rec = {
                        "media_id": int(mid),
                        "height": h,
                        "width": w,
                        "mean_luma": CC.mean_luma(nch, pix),
                    }
                elif kind == "wav":
                    nch, n, _rate, amp = CC.wav_decode(b)
                    rec = {
                        "media_id": int(mid),
                        "height": nch,
                        "width": n,
                        "mean_luma": amp,
                    }
                elif fake:
                    hsh = hashlib.md5(b).digest()
                    rec = {
                        "media_id": int(mid),
                        "height": 1 + hsh[0] % 64,
                        "width": 1 + hsh[1] % 64,
                        "mean_luma": hsh[2] / 255.0,
                    }
                else:
                    raise NotImplementedError(
                        "only PNG/WAV decode with the stdlib codecs; other "
                        "formats need external libs — pass fake=True for the "
                        "deterministic stub"
                    )
                out.append(rec)
            yield pd.DataFrame(out, columns=[f.name for f in DECODED_SCHEMA.fields])

    return df.select("media_id", "content").mapInPandas(_decode, DECODED_SCHEMA)


RESIZED_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType()),
        T.StructField("content", T.BinaryType()),
        T.StructField("height", T.IntegerType()),
        T.StructField("width", T.IntegerType()),
    ]
)


def resize_media(
    df: DataFrame, height: int = 32, width: int = 32, fake: bool = False
) -> DataFrame:
    """Resize plumbing via mapInPandas: binary in -> binary out with
    target dims. REAL for PNG (stdlib nearest-neighbor resample,
    re-encoded as PNG); other formats raise unless ``fake=True``
    (deterministic digest payload of the requested size, keeping batch
    shape, schema, and downstream joins real)."""

    def _resize(batches: Iterator) -> Iterator:
        import hashlib

        import pandas as pd

        from wq_data_pipeline_spark.operators import codecs as CC

        for pdf in batches:
            out = []
            for mid, content in zip(pdf["media_id"], pdf["content"]):
                b = bytes(content)
                if CC.sniff(b) == "png":
                    buf, _, _ = CC.png_resize_nearest(b, width, height)
                elif fake:
                    seed = hashlib.md5(b).digest()
                    n = height * width
                    buf = (seed * (n // len(seed) + 1))[:n]
                else:
                    raise NotImplementedError(
                        "only PNG resizes with the stdlib codec; pass "
                        "fake=True for the deterministic stub"
                    )
                out.append(
                    {
                        "media_id": int(mid),
                        "content": buf,
                        "height": height,
                        "width": width,
                    }
                )
            yield pd.DataFrame(out, columns=[f.name for f in RESIZED_SCHEMA.fields])

    return df.select("media_id", "content").mapInPandas(_resize, RESIZED_SCHEMA)


FEATURES_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType()),
        T.StructField("embedding", T.ArrayType(T.FloatType())),
    ]
)


def extract_features(df: DataFrame, dim: int = 16, fake: bool = False) -> DataFrame:
    """Feature-extraction plumbing: binary media -> ``array<float>``
    embedding, the bridge from multimodal columns into the similarity
    operators (``operators/similarity.py`` top-k / near-dup run
    unchanged on this output). Fake path: md5-derived unit-scale
    floats, deterministic across runs and engines."""

    def _extract(batches: Iterator) -> Iterator:
        import hashlib

        import pandas as pd

        for pdf in batches:
            if not fake:
                raise NotImplementedError(
                    "feature extraction requires model libs not present in "
                    "this container; pass fake=True for the deterministic stub"
                )
            out = []
            for mid, content in zip(pdf["media_id"], pdf["content"]):
                h = hashlib.md5(bytes(content)).digest()
                vec = [
                    (h[i % len(h)] ^ (i * 31 & 0xFF)) / 255.0 - 0.5
                    for i in range(dim)
                ]
                out.append({"media_id": int(mid), "embedding": vec})
            yield pd.DataFrame(out, columns=[f.name for f in FEATURES_SCHEMA.fields])

    return df.select("media_id", "content").mapInPandas(_extract, FEATURES_SCHEMA)


AHASH_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType()),
        T.StructField("width", T.IntegerType()),
        T.StructField("height", T.IntegerType()),
        T.StructField("ahash", T.StringType()),
    ]
)


AUDIO_FEATURES_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType()),
        T.StructField("n_frames", T.LongType()),
        T.StructField("sample_rate", T.IntegerType()),
        T.StructField("sum_abs", T.LongType()),
        T.StructField("sum_sq", T.LongType()),
        T.StructField("peak_abs", T.IntegerType()),
        T.StructField("n_zero_cross", T.LongType()),
    ]
)


def audio_features(df: DataFrame, content: str = "content") -> DataFrame:
    """Integer waveform analytics over binary WAV columns: REAL stdlib
    decode (``wave``) -> per-clip loudness/activity features, each an
    exact integer over the raw 16-bit PCM values so an oracle can
    replay them from the sample stream with no float tolerance:
    sum |v| (mean-amplitude numerator), sum v² (energy/RMS numerator),
    peak |v| (clipping headroom), and strict zero crossings
    (v[i-1]·v[i] < 0 — the classic voiced/unvoiced activity proxy).
    The audio sibling of :func:`perceptual_hash`: identical payloads
    produce identical feature rows, so the features double as a
    playback-dup key. Arrow-batched mapInPandas, one narrow pass;
    16-bit mono PCM only (the wav_encode fixture shape) — other
    sample widths raise, same contract as decode_media's real path."""

    def _feats(batches: Iterator) -> Iterator:
        import io
        import struct
        import wave

        import pandas as pd

        for pdf in batches:
            out = []
            for mid, data in zip(pdf["media_id"], pdf["content"]):
                if data is None or len(data) == 0:
                    raise ValueError(
                        "audio_features requires non-NULL, non-empty content"
                        f" (media_id={mid})"
                    )
                with wave.open(io.BytesIO(bytes(data)), "rb") as f:
                    if f.getsampwidth() != 2 or f.getnchannels() != 1:
                        raise NotImplementedError(
                            "audio_features expects 16-bit mono PCM"
                        )
                    rate = f.getframerate()
                    frames = f.readframes(f.getnframes())
                vals = [v for (v,) in struct.iter_unpack("<h", frames)]
                out.append(
                    {
                        "media_id": int(mid),
                        "n_frames": len(vals),
                        "sample_rate": int(rate),
                        "sum_abs": sum(abs(v) for v in vals),
                        "sum_sq": sum(v * v for v in vals),
                        "peak_abs": max((abs(v) for v in vals), default=0),
                        "n_zero_cross": sum(
                            1 for a, b in zip(vals, vals[1:]) if a * b < 0
                        ),
                    }
                )
            yield pd.DataFrame(
                out, columns=[f.name for f in AUDIO_FEATURES_SCHEMA.fields]
            )

    return df.select(F.col("media_id"), F.col(content).alias("content")).mapInPandas(
        _feats, AUDIO_FEATURES_SCHEMA
    )


def perceptual_hash(df: DataFrame, content: str = "content") -> DataFrame:
    """Perceptual image fingerprint over binary media columns: REAL
    PNG decode (stdlib codec) -> integer average-hash
    (:func:`codecs.ahash_bits`). The image analog of simhash for the
    dedup family — images whose 64-bit aHash matches (or sits within
    a small Hamming distance) are visual near-duplicates. Arrow-
    batched mapInPandas; non-PNG payloads raise (same contract as
    decode_media's real path)."""
    from wq_data_pipeline_spark.operators.codecs import ahash_bits, png_decode

    def _hash(batches: Iterator) -> Iterator:
        import pandas as pd

        for pdf in batches:
            out = []
            # the select below aliases the source column to "content"
            for mid, data in zip(pdf["media_id"], pdf["content"]):
                if data is None or len(data) == 0:
                    raise ValueError(
                        "perceptual_hash requires non-NULL, non-empty content"
                        f" (media_id={mid})"
                    )
                w, h, nch, pix = png_decode(bytes(data))
                out.append(
                    {
                        "media_id": int(mid),
                        "width": w,
                        "height": h,
                        "ahash": ahash_bits(w, h, nch, pix),
                    }
                )
            yield pd.DataFrame(out, columns=[f.name for f in AHASH_SCHEMA.fields])

    return df.select(F.col("media_id"), F.col(content).alias("content")).mapInPandas(
        _hash, AHASH_SCHEMA
    )
