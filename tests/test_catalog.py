"""The catalog registry: one ``ENTRIES`` table per family module, merged
by ``plans/queries.py``; the driver window ordered by the committed
correctness records; and an oracle canary per family in the fast tier."""

from __future__ import annotations

import json
from importlib import import_module

import pytest

import __spark_entry__ as E
from tests.oracle_utils import compare
from wq_data_pipeline_spark.plans.queries import (
    FAMILIES,
    FAMILY,
    ORACLES,
    QUERIES,
    build_registry,
)

# one cheap oracled entry per family, checked against DuckDB at sf0.01
CANARIES = {
    "qc": "p2_time_slice",
    "streaming": "stream_tumbling_rollup",
    "relational": "tpch_q6",
    "lakehouse": "latest_snapshot",
    "corpus": "hash_split",
    "dedup": "fingerprint_dedup",
    "similarity": "embed_int8_quant",
    "suffix": "suffix_repeats",
    "multimodal": "multimodal_meta",
}


def _q(spark, sf_dir):
    raise AssertionError("never called")


def test_duplicate_name_raises():
    with pytest.raises(ValueError, match="'x'.*'a'.*'b'"):
        build_registry([("a", {"x": (_q, None)}), ("b", {"x": (_q, "SELECT 1")})])


def test_every_entry_in_exactly_one_family():
    seen: dict[str, str] = {}
    for fam in FAMILIES:
        entries = import_module(f"wq_data_pipeline_spark.plans.{fam}").ENTRIES
        for name, (fn, sql) in entries.items():
            assert name not in seen, (name, seen.get(name), fam)
            seen[name] = fam
            assert QUERIES[name] is fn and ORACLES.get(name) == sql
    assert seen == FAMILY
    assert set(FAMILY) == set(QUERIES) and set(ORACLES) <= set(QUERIES)


def test_driver_window_is_stalest_green_first():
    order = list(E.queries())
    window = order[:50]
    assert len(set(window)) == 50 and set(order) == set(QUERIES)
    assert all(n in ORACLES for n in window)
    last = E._last_green_rounds()
    keys = [(n not in ORACLES, last.get(n, -1), n) for n in order]
    assert keys == sorted(keys)


def test_last_green_rounds_reads_records(tmp_path, monkeypatch):
    green = {"rows_match": True, "schema_match": True, "hash_match": True}
    red = dict(green, hash_match=False)
    (tmp_path / "CORRECTNESS_r02.json").write_text(
        json.dumps({"a": green, "b": green, "c": red})
    )
    (tmp_path / "CORRECTNESS_r10.json").write_text(json.dumps({"a": green, "b": red}))
    (tmp_path / "CORRECTNESS_notes.json").write_text(json.dumps({"a": red}))
    monkeypatch.setattr(E, "_HERE", str(tmp_path))
    assert E._last_green_rounds() == {"a": 10, "b": 2}


@pytest.mark.parametrize("family", FAMILIES)
def test_family_oracle_canary(spark, sf_dir, family):
    name = CANARIES.get(family)
    assert name is not None, f"family {family!r} has no oracle canary"
    assert FAMILY[name] == family and name in ORACLES
    ok, msg = compare(QUERIES[name](spark, sf_dir), ORACLES[name], sf_dir)
    assert ok, (name, msg)
