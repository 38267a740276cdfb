"""Round-10 hygiene pins (VERDICT r9 §wrong #2 + ADVICE items).

1. NULL-text parity is now BY CONSTRUCTION, not by fixture luck: a
   planted corpus containing a NULL-text and an empty-text doc must
   still be oracle-green for audio_energy / image_ahash (both sides
   exclude NULL symmetrically) and leak_free_split (both sides
   fingerprint NULL as md5('')).
2. The 80/10/10 split rule has ONE definition: hash_split and
   leak_free_split share the corpus family's rule, and both oracles
   embed the exact _sql_split_case fragment.
3. audio_features / perceptual_hash raise an explicit ValueError on
   NULL/empty content instead of an opaque TypeError from bytes(None).
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F, types as T

from wq_data_pipeline_spark.plans import corpus as CORPUS
from wq_data_pipeline_spark.plans import multimodal as MULTIMODAL

_DOC_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType(), False),
        T.StructField("text", T.StringType(), True),
        T.StructField("lang", T.StringType(), True),
        T.StructField("source", T.StringType(), True),
        T.StructField("n_chars", T.LongType(), True),
    ]
)

_NULLY_ROWS = [
    (1, "alpha beta gamma", "en", "s0", 16),
    (2, "gamma beta alpha", "en", "s0", 16),  # dup group with 1
    (3, None, "en", "s1", 0),  # NULL text — the round-9 latent edge
    (4, "", "en", "s1", 0),  # empty text — same fp group as NULL
    (5, "delta epsilon", "en", "s2", 13),
]


def _write_nully_docs(spark, path) -> str:
    spark.createDataFrame(_NULLY_ROWS, _DOC_SCHEMA).coalesce(2).write.mode(
        "overwrite"
    ).parquet(f"{path}/documents.parquet")
    return str(path)


@pytest.mark.parametrize(
    "qname",
    ["audio_energy", "image_ahash", "leak_free_split", "hash_split"],
)
def test_null_text_oracle_parity(spark, tmp_path, qname):
    """Engine and oracle agree on a corpus WITH a NULL-text doc."""
    from tests.oracle_utils import compare

    sf_dir = _write_nully_docs(spark, tmp_path)
    fns = {
        "audio_energy": (MULTIMODAL.q_audio_energy, MULTIMODAL.SQL_AUDIO_ENERGY),
        "image_ahash": (MULTIMODAL.q_image_ahash, MULTIMODAL.SQL_IMAGE_AHASH),
        "leak_free_split": (CORPUS.q_leak_free_split, CORPUS.SQL_LEAK_FREE_SPLIT),
        "hash_split": (CORPUS.q_hash_split, CORPUS.SQL_HASH_SPLIT),
    }
    fn, sql = fns[qname]
    ok, msg = compare(fn(spark, sf_dir), sql, sf_dir)
    assert ok, msg


def test_media_entries_exclude_null_rows_only(spark, tmp_path):
    """The media entries drop exactly the NULL-text doc (empty text is
    a valid clip seed and stays)."""
    sf_dir = _write_nully_docs(spark, tmp_path)
    ids = {
        r["media_id"] for r in MULTIMODAL.q_audio_energy(spark, sf_dir).collect()
    }
    assert ids == {1, 2, 4, 5}
    ids = {r["media_id"] for r in MULTIMODAL.q_image_ahash(spark, sf_dir).collect()}
    assert ids == {1, 2, 4, 5}


def test_leak_free_split_groups_null_with_empty(spark, tmp_path):
    """NULL text fingerprints as md5('') — the same dup group as empty
    text — on the engine side (concat_ws NULL rule), and the oracle's
    coalesce mirrors it (parity pinned above)."""
    sf_dir = _write_nully_docs(spark, tmp_path)
    rows = CORPUS.q_leak_free_split(spark, sf_dir).collect()
    # docs 3 (NULL) + 4 (empty) form a 2-doc group; docs 1+2 another;
    # doc 5 a singleton -> total dup docs = 4 across all splits
    assert sum(r["n_dup_docs"] for r in rows) == 4
    assert sum(r["n_docs"] for r in rows) == 5


def test_split_rule_single_definition():
    """The published split rule is ONE fragment in both oracles."""
    # hash_split's and leak_free_split's oracles embed the shared
    # fragment verbatim
    per_doc = CORPUS._sql_split_case("md5(CAST(doc_id AS VARCHAR))")
    assert per_doc in CORPUS.SQL_HASH_SPLIT
    assert per_doc in CORPUS.SQL_LEAK_FREE_SPLIT
    assert CORPUS._TRAIN_LT == 80 and CORPUS._VAL_LT == 90


@pytest.mark.parametrize("op", ["audio", "image"])
def test_media_null_content_explicit_error(spark, op):
    """NULL content raises the explicit contract error, not an opaque
    TypeError from bytes(None) deep inside the Arrow worker."""
    from wq_data_pipeline_spark.operators.multimodal import (
        audio_features,
        perceptual_hash,
    )

    df = spark.createDataFrame(
        [(1, None)],
        T.StructType(
            [
                T.StructField("media_id", T.LongType(), False),
                T.StructField("content", T.BinaryType(), True),
            ]
        ),
    )
    fn = audio_features if op == "audio" else perceptual_hash
    with pytest.raises(Exception, match="requires non-NULL, non-empty content"):
        fn(df).collect()
