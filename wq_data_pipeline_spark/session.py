"""SparkSession builder with scale-oriented defaults.

Local tests run on ``local[$SPARK_GRAFT_CPUS]``; on a real cluster the
same configs apply (AQE, skew-join handling, sane shuffle
parallelism). Nothing here is local-mode-specific.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

DEFAULT_CONFS = {
    # Runtime re-planning: post-shuffle coalescing + skew-join splitting.
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    # Arrow for pandas UDF exchange (the only JVM<->Python boundary).
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    # Deterministic timestamp semantics vs the DuckDB oracle.
    "spark.sql.session.timeZone": "UTC",
    # Small dims (region/nation/config tables) should broadcast.
    "spark.sql.autoBroadcastJoinThreshold": str(64 * 1024 * 1024),
    # Parquet TIMESTAMP(NANOS) (events.ts) has no Spark type; read the
    # raw int64 and convert ns -> µs in the loader (floor division —
    # same truncation DuckDB applies), SURVEY §7.2.
    "spark.sql.legacy.parquet.nanosAsLong": "true",
    # Read non-UTC-adjusted parquet timestamps as TIMESTAMP (LTZ) —
    # with the UTC session tz this matches DuckDB's naive-as-UTC view
    # of the same files, so epoch extraction agrees everywhere.
    "spark.sql.parquet.inferTimestampNTZ.enabled": "false",
    # ANSI SQL semantics, Spark 4's default, stated so the choice does
    # not depend on the Spark build: overflow and out-of-bounds array
    # indexes raise instead of returning NULL. A driver session without
    # these confs gets the same default.
    "spark.sql.ansi.enabled": "true",
}


def ship_package(spark: SparkSession) -> None:
    """Make the engine importable on executors: zip the package and
    addPyFile it (idempotent). Required whenever the driver process
    didn't launch from the repo root — pandas-UDF closures
    (applyInPandas/mapInPandas) are pickled BY MODULE REFERENCE, so
    workers must be able to import ``wq_data_pipeline_spark``. On a
    real cluster this is the standard --py-files deployment."""
    sc = spark.sparkContext
    if getattr(sc, "_wq_pkg_shipped", False):
        return
    import shutil
    import tempfile

    pkg_dir = os.path.dirname(os.path.abspath(__file__))
    staging = tempfile.mkdtemp(prefix="wq_pkg_")
    zip_base = os.path.join(staging, "wq_data_pipeline_spark")
    zip_path = shutil.make_archive(
        zip_base, "zip", root_dir=os.path.dirname(pkg_dir),
        base_dir=os.path.basename(pkg_dir),
    )
    sc.addPyFile(zip_path)
    sc._wq_pkg_shipped = True


_CGROUP_LIMIT_PATHS = (
    "/sys/fs/cgroup/memory.max",
    "/sys/fs/cgroup/memory/memory.limit_in_bytes",
)


def _cgroup_limit_gb(paths: tuple[str, ...] = _CGROUP_LIMIT_PATHS) -> int | None:
    """Container memory limit in GiB, if one is set. /proc/meminfo is
    host-wide, so inside a cgroup-capped container MemAvailable can
    vastly overstate what this process may allocate (ADVICE r8).
    Checks cgroup v2 (memory.max) then v1 (memory.limit_in_bytes);
    'max' / absurdly-large sentinels mean "no limit"."""
    for path in paths:
        try:
            with open(path) as f:
                raw = f.read().strip()
        except OSError:
            continue
        if raw == "max" or not raw.isdigit():
            continue
        limit = int(raw)
        # v1 reports ~2^63 when unlimited; treat >= 1 PiB as unset
        if limit >= 1 << 50:
            continue
        return max(1, limit // (1 << 30))
    return None


def _default_driver_mem(cap_gb: int = 32, floor_gb: int = 2) -> str:
    """Heap default for the single-JVM local session: ~half of the
    allocatable memory, capped / floored — a 32g heap on a 16 GB
    host gets OOM-killed instead of spilling (ADVICE r7).
    "Allocatable" = min(host MemAvailable, cgroup limit): a container
    capped at 8G on a large host must size from the 8G, not the
    host's free RAM (ADVICE r8). Linux-only; falls back to the cap
    elsewhere."""
    avail_gb: int | None = None
    try:
        with open("/proc/meminfo") as f:
            for line in f:
                if line.startswith("MemAvailable:"):
                    avail_gb = int(line.split()[1]) // (1024 * 1024)
                    break
    except OSError:
        pass
    cg = _cgroup_limit_gb()
    if cg is not None:
        avail_gb = cg if avail_gb is None else min(avail_gb, cg)
    if avail_gb is None:
        return f"{cap_gb}g"
    return f"{max(floor_gb, min(cap_gb, avail_gb // 2))}g"


def get_spark(
    app_name: str = "wq-engine",
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Return the active session or build a local one.

    ``shuffle_partitions`` defaults to the local core count — at
    cluster scale you would size it to ~2-3x total cores or rely on
    AQE coalescing from a high initial value.
    """
    active = SparkSession.getActiveSession()
    if active is not None:
        return active
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    if shuffle_partitions is None:
        shuffle_partitions = int(cpus)
    builder = SparkSession.builder.appName(app_name).master(f"local[{cpus}]")
    confs = dict(DEFAULT_CONFS)
    confs["spark.sql.shuffle.partitions"] = str(shuffle_partitions)
    # local[32] runs driver + all executor threads in ONE JVM: 8g
    # starved the 32-way sorts into spill at replica scale (measured:
    # suffix_xdoc x10 86 s at 8g); 32g ≈ 1 GB/core, still conservative
    # against a real executor's per-core budget. On smaller hosts /
    # cgroup-limited containers a fixed 32g heap risks an OOM-kill
    # instead of a spill (ADVICE r7), so the default is derived from
    # the machine: ~half of available memory, capped at 32g, floored
    # at 2g. SPARK_GRAFT_DRIVER_MEM always wins.
    confs.setdefault(
        "spark.driver.memory",
        os.environ.get("SPARK_GRAFT_DRIVER_MEM", _default_driver_mem()),
    )
    if extra_conf:
        confs.update(extra_conf)
    for k, v in confs.items():
        builder = builder.config(k, v)
    return builder.getOrCreate()
