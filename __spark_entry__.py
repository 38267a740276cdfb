"""Driver contract for the spark-graft builder (PySpark target).

``entry(spark)`` runs the flagship QC rollup on sf0.001;
``queries()``/``oracle_sql()`` expose the operator catalog from
``wq_data_pipeline_spark.plans.queries`` (one entry per implemented
SURVEY.md §2 operator, each with a DuckDB-equivalent oracle).
"""

from __future__ import annotations

import glob
import json
import os
import re
import sys
from collections.abc import Callable

# the engine package lives next to this file; make the import robust
# to whatever cwd/sys.path the driver uses
_HERE = os.path.dirname(os.path.abspath(__file__))
if _HERE not in sys.path:
    sys.path.insert(0, _HERE)

from pyspark.sql import DataFrame, SparkSession, functions as F


def entry(spark: SparkSession) -> DataFrame:
    """Flagship query on /root/testdata/sf0.001: clean the events
    series (A1 dedup -> W2 gap flags) and roll up per event_type ×
    day: coverage, availability, robust stats. Exercises scan ->
    window -> groupBy -> agg end-to-end."""
    from wq_data_pipeline_spark.operators import clean as C
    from wq_data_pipeline_spark.sources.testdata import load_table

    ev = load_table(spark, "/root/testdata/sf0.001", "events").select(
        "event_type", "ts", "value"
    )
    d = C.resolve_duplicates(ev, ["event_type"], "ts", "value")
    d = C.classify_gaps(d, ["event_type"], "ts", max_gap_seconds=3600.0)
    return (
        d.groupBy("event_type", F.to_date("ts").alias("day"))
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.avg("value"), 4).alias("avg_value"),
            F.median("value").alias("med_value"),
            F.sum(F.col("is_gap").cast("int")).alias("n_gaps"),
            F.round(F.max("gap_seconds"), 1).alias("max_gap_s"),
        )
        .orderBy("event_type", "day")
    )


def _last_green_rounds() -> dict[str, int]:
    """Entry name -> the latest round whose committed
    ``CORRECTNESS_r<N>.json`` record shows the entry green (rows,
    schema and hash all matching)."""
    last: dict[str, int] = {}
    for path in glob.glob(os.path.join(_HERE, "CORRECTNESS_r*.json")):
        m = re.search(r"_r(\d+)\.json$", path)
        if m is None:
            continue
        with open(path) as f:
            record = json.load(f)
        for name, row in record.items():
            if row.get("rows_match") and row.get("schema_match") and row.get("hash_match"):
                last[name] = max(last.get(name, -1), int(m.group(1)))
    return last


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    """The catalog, stalest driver check first: the driver's correctness
    gate reads only the first 50 entries, so oracled entries lead,
    ordered by the latest round that recorded them green (never green
    = -1), ties by name; the entries without an oracle come last."""
    from wq_data_pipeline_spark.plans.queries import ORACLES, QUERIES

    last = _last_green_rounds()
    order = sorted(QUERIES, key=lambda n: (n not in ORACLES, last.get(n, -1), n))
    return {name: QUERIES[name] for name in order}


def oracle_sql() -> dict[str, str]:
    from wq_data_pipeline_spark.plans.queries import ORACLES

    return dict(ORACLES)
