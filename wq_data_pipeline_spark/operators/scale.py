"""Scale-out strategies for the 100-TB design point (SURVEY.md §4.2,
§7.2 'skewed long series').

The engine's window operators partition by (station, variable): one
series = one partition. A decade of 1 Hz data for one sensor is ~300M
rows — too much for a single executor partition. The fix is
**bucketed window computation with halo rows**:

1. assign each row a time bucket of ``bucket_rows`` target size;
2. replicate the first/last ``halo`` rows of each bucket into the
   neighboring bucket (halo = max window reach);
3. run the centered-window computation per (series, bucket) — every
   row sees its full frame because the halo covers the window reach;
4. drop the halo copies.

This turns one giant partition into many bounded ones at the cost of
2·halo/bucket_rows extra rows (~1% for day buckets and 15-min
windows). The computation is exact, not approximate.
"""

from __future__ import annotations

from collections.abc import Callable, Sequence

from pyspark.sql import Column, DataFrame, Window, functions as F

from wq_data_pipeline_spark.operators.windows import SERIES_KEYS


def salted_agg(
    df: DataFrame,
    keys: Sequence[str],
    aggs: Sequence[tuple[str, str, str]],
    n_salts: int = 16,
    salt_source: str | Column | None = None,
) -> DataFrame:
    """Two-phase aggregation for skewed group keys: partial-aggregate
    on (keys..., salt), then final-aggregate on keys. One hot key is
    spread over ``n_salts`` reducers in phase 1; phase 2 touches only
    n_salts rows per key.

    ``aggs`` entries are (column, fn, out_name) with fn in
    {'sum','count','min','max','avg'} — the decomposable aggregates
    (avg = sum/count recombined in phase 2). The salt derives from
    ``salt_source`` (a high-cardinality column, e.g. the row id/ts)
    so it is deterministic — no rand(), resume- and retry-safe.

    AQE's skew handling covers sort-merge JOINS, not aggregations;
    this is the aggregation-side equivalent.
    """
    keys = list(keys)
    if salt_source is None:
        raise ValueError("salt_source required (deterministic salting)")
    salt = (F.abs(F.hash(F.col(salt_source) if isinstance(salt_source, str) else salt_source)) % n_salts).alias("_salt")

    partials = []
    finals = []
    for col, fn, out in aggs:
        if fn == "sum":
            partials.append(F.sum(col).alias(f"_p_{out}"))
            finals.append(F.sum(f"_p_{out}").alias(out))
        elif fn == "count":
            partials.append(F.count(col).alias(f"_p_{out}"))
            finals.append(F.sum(f"_p_{out}").alias(out))
        elif fn == "min":
            partials.append(F.min(col).alias(f"_p_{out}"))
            finals.append(F.min(f"_p_{out}").alias(out))
        elif fn == "max":
            partials.append(F.max(col).alias(f"_p_{out}"))
            finals.append(F.max(f"_p_{out}").alias(out))
        elif fn == "avg":
            partials.append(F.sum(col).alias(f"_ps_{out}"))
            partials.append(F.count(col).alias(f"_pc_{out}"))
            finals.append(
                (F.sum(f"_ps_{out}") / F.sum(f"_pc_{out}")).alias(out)
            )
        else:
            raise ValueError(f"non-decomposable agg: {fn}")
    phase1 = df.withColumn("_salt", salt).groupBy(*keys, "_salt").agg(*partials)
    return phase1.groupBy(*keys).agg(*finals)


def salted_join(
    fact: DataFrame,
    dim: DataFrame,
    key: str,
    n_salts: int = 16,
    salt_source: str | Column | None = None,
    how: str = "inner",
) -> DataFrame:
    """Skew-safe equi-join: replicate every ``dim`` row across
    ``n_salts`` salt values and join ``fact`` on (key, salt), so one
    hot key's fact rows spread over ``n_salts`` reducers instead of
    melting a single task. The join-side counterpart of
    :func:`salted_agg` for when the dim is too big to broadcast but
    far smaller than the fact (replication cost = n_salts × |dim|).

    The salt derives from ``salt_source`` (a high-cardinality fact
    column, e.g. the row id) — deterministic, no rand(), retry-safe;
    ``pmod`` keeps it in [0, n_salts) even at hash == Integer.MIN_VALUE
    (``abs`` wraps negative there and a negative salt would silently
    drop the row). Result equals the plain join row-for-row
    (equivalence pinned in tests/test_scale.py). Only ``inner`` and
    ``left`` joins are supported: a right/full join would emit every
    unmatched dim row once PER SALT REPLICA, which no de-duplication
    can undo without re-deriving which replica is canonical. AQE's
    skew-join split covers sort-merge joins after the fact;
    pre-salting bounds the skew BEFORE the shuffle and also covers
    hash joins.
    """
    if salt_source is None:
        raise ValueError("salt_source required (deterministic salting)")
    if how not in ("inner", "left", "left_outer", "leftouter"):
        raise ValueError(
            f"salted_join supports inner/left only (got {how!r}): unmatched "
            "dim rows would duplicate once per salt replica"
        )
    src = F.col(salt_source) if isinstance(salt_source, str) else salt_source
    f = fact.withColumn("_salt", F.pmod(F.hash(src), F.lit(n_salts)).cast("int"))
    d = dim.withColumn(
        "_salt", F.explode(F.array(*[F.lit(i) for i in range(n_salts)]))
    )
    return f.join(d, on=[key, "_salt"], how=how).drop("_salt")


def bucketed_window_apply(
    df: DataFrame,
    window_fn: Callable[[DataFrame, Sequence[str]], DataFrame],
    keys: Sequence[str] = SERIES_KEYS,
    ts: str = "ts",
    bucket_seconds: float = 86_400.0,
    halo_rows: int = 64,
) -> DataFrame:
    """Run ``window_fn(df, partition_keys)`` with bounded partitions.

    ``window_fn`` receives the row-expanded frame and the partition
    key list (original keys + ``_bucket``) and must compute its window
    columns with ``Window.partitionBy(*partition_keys).orderBy(ts)``.
    ``halo_rows`` must be >= the maximum frame reach (e.g. w//2 for a
    centered w-row window, or the lag/lead depth; for CHAINED windows
    the reaches add).

    Preconditions, or the result is silently wrong / a loss:
    - every bucket must hold >= ``halo_rows`` rows (halo replication
      only reaches the ADJACENT bucket, so a frame must never span
      more than one bucket boundary) — pick ``bucket_seconds`` from
      the series cadence;
    - only worth it when a single (keys) partition exceeds what one
      executor core should sort (~10M+ rows): measured at 100k rows /
      5 keys the expansion overhead loses to plain WindowExec
      (2.6 s vs 2.1 s at sf0.1).
    """
    keys = list(keys)
    bucket = F.floor(F.unix_micros(F.col(ts)) / F.lit(bucket_seconds * 1e6)).alias(
        "_bucket"
    )
    d = df.withColumn("_bucket", bucket)

    w = Window.partitionBy(*keys, "_bucket").orderBy(ts)
    d = d.withColumn("_rn", F.row_number().over(w)).withColumn(
        "_cnt", F.count(F.lit(1)).over(Window.partitionBy(*keys, "_bucket"))
    )
    own = d.withColumn("_home", F.lit(True))
    # last halo_rows of bucket b also participate in bucket b+1
    fwd = (
        d.filter(F.col("_rn") > F.col("_cnt") - halo_rows)
        .withColumn("_bucket", F.col("_bucket") + 1)
        .withColumn("_home", F.lit(False))
    )
    # first halo_rows of bucket b also participate in bucket b-1
    bwd = (
        d.filter(F.col("_rn") <= halo_rows)
        .withColumn("_bucket", F.col("_bucket") - 1)
        .withColumn("_home", F.lit(False))
    )
    expanded = own.unionByName(fwd).unionByName(bwd).drop("_rn", "_cnt")
    result = window_fn(expanded, [*keys, "_bucket"])
    return result.filter(F.col("_home")).drop("_home", "_bucket")


def spread_small_scan(df: DataFrame) -> DataFrame:
    """Repartition to defaultParallelism ONLY when the frame's
    current partitioning is coarser — the single-file small-table
    case the embedding entries' unconditional
    ``repartition(defaultParallelism)`` was written for (an n×k
    scoring fan-out on a one-split scan runs on one core). At corpus
    scale the scan already carries >= defaultParallelism splits and
    the unconditional form was a FULL CORPUS SHUFFLE for nothing
    (r13, guide §2.4 — remove shuffles outright); this gate keeps the
    local/bench plan byte-identical and drops the shuffle exactly
    where it was pure waste."""
    dp = df.sparkSession.sparkContext.defaultParallelism
    if df.rdd.getNumPartitions() < dp:
        return df.repartition(dp)
    return df


def distributed_prefix_sum(
    df: DataFrame,
    order_col: str,
    value_col: str,
    out: str = "prefix_sum",
    num_partitions: int | None = None,
) -> DataFrame:
    """EXCLUSIVE global prefix sum of ``value_col`` in ``order_col``
    order — without ever moving all rows into one partition.

    A naive ``Window.orderBy(order_col)`` cumsum has an empty
    partitionBy, which Spark executes as a SINGLE-partition window
    (the WindowExec warning) — a non-starter at 100 TB. This is the
    textbook two-level scan instead:

    1. range-repartition on ``order_col`` (partition i holds keys
       strictly below partition i+1 — the range partitioner's
       contract, same machinery as a global sort);
    2. per-partition cumsum via a window PARTITIONED by the Spark
       partition id (bounded partitions, parallel);
    3. one tiny aggregate of per-partition totals (#partitions rows)
       cumsum'd on the driver and broadcast-joined back as each
       partition's base offset.

    The result is independent of the partitioning: offsets derive
    from the actual per-partition sums in range order. Output = input
    columns + ``out`` (sum of all values strictly before the row).
    ``order_col`` must be unique (it is the total order).
    """
    n = num_partitions or df.sparkSession.sparkContext.defaultParallelism
    # localCheckpoint pins the range partitioning: the per-partition
    # totals action and the final join must see the SAME boundaries
    # (repartitionByRange re-samples per action otherwise). On a real
    # cluster swap for reliable-store checkpoint().
    d = (
        df.repartitionByRange(n, F.col(order_col))
        .withColumn("_pid", F.spark_partition_id())
        .localCheckpoint()
    )
    w_in = (
        Window.partitionBy("_pid")
        .orderBy(order_col)
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    d = d.withColumn("_local", F.coalesce(F.sum(value_col).over(w_in), F.lit(0)))
    # per-partition totals: tiny (n rows) — cumsum on the driver
    totals = sorted(
        (r["_pid"], r["_t"])
        for r in d.groupBy("_pid").agg(F.sum(value_col).alias("_t")).collect()
    )
    base, acc = {}, 0
    for pid, t in totals:
        base[pid] = acc
        acc += t or 0
    spark = df.sparkSession
    offsets = spark.createDataFrame(
        [(pid, b) for pid, b in base.items()], "_pid INT, _base BIGINT"
    )
    return (
        d.join(F.broadcast(offsets), "_pid")
        .withColumn(out, (F.col("_base") + F.col("_local")).cast("long"))
        .drop("_pid", "_local", "_base")
    )
