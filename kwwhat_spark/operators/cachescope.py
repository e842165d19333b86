"""One lifetime rule for the storage a plan holds: persisted and
local-checkpointed DataFrames, and broadcasts. Spark frees none of them
while a handle lives, so a long-lived session composing many operator
calls would accumulate all three.

The rule:

- A lifetime that ends inside a function is a ``with scope():`` block
  in that function. On exit, also when the body raised, the scope
  releases everything :func:`keep`'d inside it, in reverse order.
- Anything handed to the caller (a returned checkpoint, or a returned
  frame that reads a persisted stage or a broadcast) is ``keep``'d
  into the caller's scope, outside the function's own block.
- A loop that replaces a checkpoint each round releases the one it
  replaces, which bounds memory per round.
- Only ``queries/ocpp_pipeline``'s session caches, ``_STAGED_CACHE``
  and ``_MART_CACHE``, are never kept.

Scopes nest; the innermost open one owns what is kept. With none open,
``keep`` is a no-op and the caller owns the storage. The open scopes
live in a ``ContextVar`` and ``threads.run_all`` runs each worker in a
copy of the caller's context: a worker's keep lands in the caller's
scope, and a scope a worker opens holds only that worker's keeps.
"""

from __future__ import annotations

from collections.abc import Iterator
from contextlib import contextmanager
from contextvars import ContextVar
from typing import TypeVar

from py4j.protocol import Py4JError
from pyspark import Broadcast
from pyspark.sql import DataFrame

Held = TypeVar("Held", DataFrame, Broadcast)

# Innermost last. A scope's list is shared by every context copied
# while it is open, so a worker's keep appends to the caller's scope;
# opening a scope sets a new tuple in the current context only.
_SCOPES: ContextVar[tuple[list, ...]] = ContextVar("cachescope", default=())


@contextmanager
def scope() -> Iterator[None]:
    """Own everything :func:`keep`'d inside the block; release it all,
    in reverse order, when the block closes."""
    kept: list = []
    token = _SCOPES.set(_SCOPES.get() + (kept,))
    try:
        yield
    finally:
        _SCOPES.reset(token)
        for x in reversed(kept):
            try:
                release(x)
            except Py4JError:  # session already stopped — nothing to free
                pass


def keep(x: Held) -> Held:
    """Register a persisted or checkpointed DataFrame, or a broadcast,
    with the innermost open scope; return ``x``."""
    scopes = _SCOPES.get()
    if scopes:
        scopes[-1].append(x)
    return x


def checkpoint_rdd(df: DataFrame):
    """The JVM RDD holding ``df``'s blocks if ``df`` is a local checkpoint
    (a ``LogicalRDD`` leaf over a locally checkpointed RDD), else None.
    A frame built from a plain RDD is also a ``LogicalRDD``; its RDD is
    not ``df``'s to free."""
    plan = df._jdf.queryExecution().logical()
    if plan.nodeName() != "LogicalRDD" or not plan.rdd().isLocallyCheckpointed():
        return None
    return plan.rdd()


def release(x: DataFrame | Broadcast) -> None:
    """Free the storage ``x`` holds: a persisted DataFrame, a local
    checkpoint, or a broadcast. Releasing twice is harmless.
    ``DataFrame.unpersist`` does nothing to a checkpoint's blocks, so
    those are freed through the RDD under its ``LogicalRDD`` leaf."""
    if isinstance(x, Broadcast):
        if x._jbroadcast.isValid():
            x.destroy()
        return
    rdd = checkpoint_rdd(x)
    if rdd is not None:
        rdd.unpersist(False)
    else:
        x.unpersist()
