"""Materialize-once pins for multi-consumer subtrees.

Several operators derive BOTH sides of a self-join (or several
downstream legs) from one expensive subtree — the LSH band/signature
builds, the mix_report kept-frame, the qc_full_suite flagged-frame.
Without a cut, AQE's broadcast conversion de-identifies the two
exchange subtrees and the whole upstream plan executes once per
consumer (the r12 dual-subtree finding). The cut itself is
mode-dependent (r12-VERDICT #3):

- ``local[*]`` master: ``localCheckpoint`` — executor block store,
  lineage truncated. Fastest, and fault-tolerance is moot: in local
  mode losing "the executor" is losing the driver process.
- any other master: ``persist(DISK_ONLY)`` — blocks are recomputable
  because the lineage stays intact, so a 100-TB run that loses an
  executor mid-query RE-COMPUTES the lost blocks instead of failing
  the job (a localCheckpoint block dies with its executor and the
  truncated lineage cannot rebuild it). DISK_ONLY keeps the big
  signature tables out of execution memory; swap for a
  reliable-store ``checkpoint()`` when a checkpoint dir is
  configured and plan-size truncation is also needed.

``eager=True`` materializes via the same mechanism the lazy form's
first action would use (localCheckpoint(eager=True) locally, a
count() on the persisted frame on clusters).

``unpin`` releases a pin once its last consumer has run: it drops the
persisted blocks on a cluster, and does nothing locally, where
ContextCleaner frees localCheckpoint blocks once the pinned frame is
no longer referenced.
"""

from __future__ import annotations

from pyspark.sql import DataFrame


def is_local_master(master: str | None) -> bool:
    """True when the master string is a single-process local mode
    (``local``, ``local[8]``, ``local[*]``, ``local[8,3]``); pure so
    the mode gate is unit-testable without a cluster."""
    return bool(master) and master.split("[", 1)[0] == "local"


def pin(df: DataFrame, eager: bool = False) -> DataFrame:
    """Cut ``df`` so multiple consumers execute its subtree once —
    localCheckpoint in local mode, recomputable DISK_ONLY persist on
    a cluster (see module docstring)."""
    master = df.sparkSession.sparkContext.master
    if is_local_master(master):
        return df.localCheckpoint(eager=eager)
    from pyspark import StorageLevel

    out = df.persist(StorageLevel.DISK_ONLY)
    if eager:
        out.count()
    return out


def unpin(df: DataFrame) -> None:
    """Release a frame returned by :func:`pin` — unpersist without
    blocking on a cluster; a no-op in local mode (see module
    docstring)."""
    if not is_local_master(df.sparkSession.sparkContext.master):
        df.unpersist(blocking=False)
