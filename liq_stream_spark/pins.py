"""How a multi-consumer intermediate is stored, and for how long.

DataFrame lineage has no common-subexpression reuse, so a frame read by
several consumers is pinned once with :func:`pin` (ARCHITECTURE.md
"Materialization"). ``keep_lineage=True`` is ``persist()``: the cached
relation keeps its lineage for executor-loss recovery, and its scan keeps
the plan's partitioning and sort. Otherwise the pin is a lazy checkpoint
that truncates lineage: the reliable ``checkpoint()`` when the
SparkContext has a checkpoint dir set, ``localCheckpoint()`` when not.
No pin starts a job, and every kind computes its frame once: the reliable
checkpoint caches its RDD like the local one, so its write reads the
blocks the first action stored.

Pins made inside :func:`scope` are released when it exits: a persisted
frame is uncached (leaving no CacheManager entry for a later query over a
replaced file to match), a checkpoint has its RDD unpersisted. Pins made
outside any scope stay until Spark drops them.
"""

from __future__ import annotations

import contextlib
import threading
from collections.abc import Iterator

from pyspark.sql import DataFrame

_scopes = threading.local()


def pin(df: DataFrame, keep_lineage: bool = False) -> DataFrame:
    """Materialize ``df`` once for all its consumers (module docstring)."""
    sc = df.sparkSession.sparkContext
    if keep_lineage:
        pinned = df.persist()
        release = pinned.unpersist
    else:
        reliable = sc.getCheckpointDir() is not None
        if reliable:
            pinned = df.checkpoint(eager=False)
        else:
            pinned = df.localCheckpoint(eager=False)
        rdd = pinned._jdf.queryExecution().analyzed().rdd()
        if reliable:
            # checkpoint() writes in a job of its own after the first
            # action; cached blocks (localCheckpoint's storage level) let
            # that write read the frame instead of computing it again
            level = sc._jvm.org.apache.spark.storage.StorageLevel
            rdd.persist(level.MEMORY_AND_DISK())
        release = lambda: rdd.unpersist(False)
    stack = getattr(_scopes, "stack", None)
    if stack:
        stack[-1].append(release)
    return pinned


@contextlib.contextmanager
def scope() -> Iterator[None]:
    """Release every pin made in this thread while the block runs."""
    stack = _scopes.__dict__.setdefault("stack", [])
    releases: list = []
    stack.append(releases)
    try:
        yield
    finally:
        stack.pop()
        for release in reversed(releases):
            release()
