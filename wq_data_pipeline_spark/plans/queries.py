"""Driver-contract query catalog: every SURVEY.md §2 operator gets a
named PySpark query plus a DuckDB-runnable ANSI-SQL oracle.

The catalog is grouped by domain, one module per family in this
package. Each family module declares ``ENTRIES = {name: (query_fn,
oracle_sql_or_None)}``; this module only merges them into ``QUERIES``,
``ORACLES`` and ``FAMILY`` (entry name -> family module name).

Conventions that keep the Spark result and the oracle hash-identical
(the driver compares row-count + schema + order-insensitive
value-hash, columns sorted by name):

- Timestamps in outputs are emitted as epoch microseconds
  (``unix_micros`` / ``epoch_us``) — sidesteps the parquet-ns vs
  Spark-µs truncation hazard (SURVEY §7.2).
- Doubles derived from *order-sensitive* accumulations (sum/avg/std)
  are rounded identically on both sides; doubles from exact paths
  (median, percentile, min/max, pure arithmetic) are left raw so both
  engines produce bit-identical values.
- Every computed column is aliased to the same name in both dialects.
"""

from __future__ import annotations

from collections.abc import Callable, Iterable, Mapping
from importlib import import_module

from pyspark.sql import DataFrame, SparkSession

QueryFn = Callable[[SparkSession, str], DataFrame]

# a family module imports shared helpers only from families listed
# before it
FAMILIES = (
    "qc",
    "streaming",
    "relational",
    "lakehouse",
    "corpus",
    "dedup",
    "similarity",
    "suffix",
    "multimodal",
)


def build_registry(
    families: Iterable[tuple[str, Mapping[str, tuple[QueryFn, str | None]]]],
) -> tuple[dict[str, QueryFn], dict[str, str], dict[str, str]]:
    """Merge per-family ``ENTRIES`` tables into (QUERIES, ORACLES,
    FAMILY); a name registered by two families raises ValueError."""
    queries: dict[str, QueryFn] = {}
    oracles: dict[str, str] = {}
    family: dict[str, str] = {}
    for fam, entries in families:
        for name, (fn, sql) in entries.items():
            if name in family:
                raise ValueError(
                    f"catalog entry {name!r} registered by both "
                    f"{family[name]!r} and {fam!r}"
                )
            queries[name] = fn
            family[name] = fam
            if sql is not None:
                oracles[name] = sql
    return queries, oracles, family


QUERIES, ORACLES, FAMILY = build_registry(
    (fam, import_module(f"wq_data_pipeline_spark.plans.{fam}").ENTRIES)
    for fam in FAMILIES
)
