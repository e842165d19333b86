"""Scoped release for operator-persisted intermediates.

Several operators persist() intra-query stages that are consumed more
than once within one returned plan (minhash shingles/banded rows, the
substring-strip token stage). The persists are correct §5 usage — the
stage is reused and recomputing it costs more than the cache — but the
DataFrame handles are operator-local, so a LONG-LIVED session composing
many operator calls accumulates storage: Spark's CacheManager keys
caches by logical plan and never drops them on its own.

Callers have two contracts:

- Per-query isolation (what bench.py and the oracle gate do): call
  ``spark.catalog.clearCache()`` between queries. Blanket, simple, and
  correct when queries don't share cached stages.
- Scoped release (long-lived sessions): operators register every
  persist here; call :func:`release_tracked` after materializing an
  operator's output to unpersist exactly the intermediates operators
  created, leaving caller-managed caches alone.

Tracking holds strong references: the JVM cache outlives the Python
handle, so a weakref would go dead while the cache lives on.

Every release goes through :func:`release`, which frees a persisted
DataFrame and an eager ``localCheckpoint`` alike. The two hold their
blocks differently: ``persist`` registers the plan with the
CacheManager, which ``unpersist`` drops; a checkpoint's blocks belong
to the RDD under its ``LogicalRDD`` leaf, and ``DataFrame.unpersist``
does nothing to them.
"""

from __future__ import annotations

from pyspark.sql import DataFrame

_TRACKED: list[DataFrame] = []


def track(df: DataFrame) -> DataFrame:
    """Register an operator-persisted DataFrame for scoped release."""
    _TRACKED.append(df)
    return df


def checkpoint_rdd(df: DataFrame):
    """The JVM RDD holding ``df``'s blocks if ``df`` is a local checkpoint
    (a ``LogicalRDD`` leaf over a locally checkpointed RDD), else None.
    A frame built from a plain RDD is also a ``LogicalRDD``; its RDD is
    not ``df``'s to free."""
    plan = df._jdf.queryExecution().logical()
    if plan.nodeName() != "LogicalRDD" or not plan.rdd().isLocallyCheckpointed():
        return None
    return plan.rdd()


def release(df: DataFrame, blocking: bool = False) -> None:
    """Free the storage ``df`` holds, whether it was persisted or
    local-checkpointed."""
    rdd = checkpoint_rdd(df)
    if rdd is not None:
        rdd.unpersist(blocking)
    else:
        df.unpersist(blocking=blocking)


def release_tracked(blocking: bool = False) -> int:
    """Release every tracked intermediate; returns how many."""
    n = 0
    while _TRACKED:
        df = _TRACKED.pop()
        try:
            release(df, blocking=blocking)
            n += 1
        except Exception:  # session already stopped — nothing to free
            pass
    return n
