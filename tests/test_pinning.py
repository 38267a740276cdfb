"""pin() — the mode-dependent materialize-once cut (r13).

In local mode pin() must be byte-identical to the previous code
(localCheckpoint), keeping the bench baseline comparable; on any other
master it must choose the recomputable DISK_ONLY persist instead
(r12-VERDICT what's-wrong #3: a localCheckpoint block dies with its
executor and the truncated lineage cannot rebuild it).
"""

from __future__ import annotations

from types import SimpleNamespace

from pyspark import StorageLevel
from pyspark.sql import functions as F

from wq_data_pipeline_spark.operators.pinning import is_local_master, pin, unpin


def test_is_local_master_shapes():
    assert is_local_master("local")
    assert is_local_master("local[8]")
    assert is_local_master("local[*]")
    assert is_local_master("local[8,3]")
    assert not is_local_master("local-cluster[2,1,1024]")
    assert not is_local_master("spark://host:7077")
    assert not is_local_master("yarn")
    assert not is_local_master("k8s://https://host:443")
    assert not is_local_master(None)
    assert not is_local_master("")


def test_pin_local_is_checkpoint_not_persist(spark):
    df = spark.range(10).withColumn("v", F.col("id") * 2)
    out = pin(df, eager=True)
    # localCheckpoint truncates lineage to an RDD scan and does NOT
    # register with the cache manager (storageLevel stays NONE)
    assert out.storageLevel.useMemory is False
    assert out.storageLevel.useDisk is False
    assert "ExistingRDD" in out._jdf.queryExecution().optimizedPlan().toString() or (
        out.rdd.getCheckpointFile() is None  # localCheckpoint has no file
    )
    assert out.count() == 10
    assert [r.v for r in out.orderBy("id").collect()] == [i * 2 for i in range(10)]


def test_pin_lazy_materializes_on_first_action(spark):
    df = spark.range(5)
    out = pin(df, eager=False)
    assert out.count() == 5


class _RecordingFrame:
    """DataFrame stand-in whose session reports ``master``; records
    the pin/unpin calls made on it."""

    def __init__(self, master: str):
        self.sparkSession = SimpleNamespace(sparkContext=SimpleNamespace(master=master))
        self.calls: list[tuple] = []

    def localCheckpoint(self, eager=False):
        self.calls.append(("localCheckpoint", eager))
        return self

    def persist(self, level):
        self.calls.append(("persist", level))
        return self

    def unpersist(self, blocking=False):
        self.calls.append(("unpersist", blocking))
        return self


def test_unpin_releases_cluster_pin_without_blocking():
    df = _RecordingFrame("spark://h:7077")
    unpin(pin(df))
    assert df.calls == [("persist", StorageLevel.DISK_ONLY), ("unpersist", False)]


def test_unpin_is_noop_in_local_mode():
    df = _RecordingFrame("local[4]")
    unpin(pin(df))
    # ContextCleaner frees localCheckpoint blocks; nothing to release
    assert df.calls == [("localCheckpoint", False)]
