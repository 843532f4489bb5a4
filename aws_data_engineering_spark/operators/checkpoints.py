"""Tracked eager localCheckpoints with scoped release.

``pipeline.run_load``, ``text.bpe_learn`` and
``similarity.projection_tree_topk`` create eager localCheckpoints and
release exactly their own blocks before returning. Releasing by diffing the
session's GLOBAL persisted-RDD registry before/after the whole function
captures checkpoints a CONCURRENT thread created on the shared
SparkSession in the meantime — and unpersisting someone else's
localCheckpoint DESTROYS it (CHECKPOINT_RDD_BLOCK_ID_NOT_FOUND on their
next action). These helpers accumulate the ids each checkpoint call
itself created: the before/materialize/after diff runs under a module
lock, so two threads BOTH using tracked_local_checkpoint can never
capture each other's blocks. A thread checkpointing through a different
code path (raw ``df.localCheckpoint``) during the materialization window
could still be captured — the lock scopes what this module does, not the
whole session — so keep every eager checkpoint that shares a session on
these helpers.

COST: the lock is held across the JVM-side eager materialization, so all
tracked checkpoints in the process SERIALIZE — concurrent threads queue
behind each other's materialization. Acceptable for the current callers
(each runs its checkpoints single-threaded); if parallel
materialization ever matters, diff ids under the lock but materialize
outside via a per-session retry loop.
"""

from __future__ import annotations

import threading

from pyspark.sql import DataFrame, SparkSession

# Serializes the before/localCheckpoint/after id-diff below. The JVM does
# the actual materialization work; holding a Python lock across it only
# delays a CONCURRENT tracked checkpoint on the same session, which would
# otherwise race the diff and be captured into the wrong own_ids set.
_TRACK_LOCK = threading.Lock()


def persistent_ids(spark: SparkSession) -> set[int]:
    return set(spark.sparkContext._jsc.getPersistentRDDs().keySet().toArray())


def tracked_local_checkpoint(df: DataFrame, own_ids: set[int]) -> DataFrame:
    """Eager localCheckpoint whose new persisted-RDD ids are added to
    ``own_ids`` (df.rdd.id() is NOT the persisted block's id, so the
    before/after diff around this one call is the only way to learn it).
    The diff is serialized by ``_TRACK_LOCK`` so concurrent callers of
    this helper cannot capture one another's block ids."""
    spark = df.sparkSession
    with _TRACK_LOCK:
        before = persistent_ids(spark)
        out = df.localCheckpoint(eager=True)
        own_ids |= persistent_ids(spark) - before
    return out


def release_checkpoints(spark: SparkSession, own_ids: set[int]) -> None:
    """Unpersist exactly the tracked ids (non-blocking)."""
    jmap = spark.sparkContext._jsc.getPersistentRDDs()
    for rid in own_ids:
        jrdd = jmap.get(rid)
        if jrdd is not None:
            jrdd.unpersist(False)
