"""Independent Spark actions side by side from one driver.

Spark runs jobs submitted from several driver threads at once: with the
default FIFO scheduler a later job's tasks take the cores an earlier
job leaves idle. Work bound by per-stage driver overhead rather than by
cores (small models, writes and check queries, each a few short
stages) finishes sooner when independent pieces overlap.

Workers are ``pyspark.InheritableThread``: each starts with the
caller's local properties (job group, description, scheduler pool), so
the jobs it submits carry the caller's labels. A plain thread starts
with none, and its jobs fall out of every job group. Each worker also
runs in a copy of the caller's ``contextvars`` context, so what it
keeps lands in the caller's cache scope (``operators/cachescope``).
"""

from __future__ import annotations

from collections.abc import Callable, Sequence
from contextvars import copy_context
from typing import TypeVar

from pyspark import InheritableThread

T = TypeVar("T")


def run_all(calls: Sequence[Callable[[], T]]) -> list[T]:
    """Call every function in ``calls`` concurrently; return their
    results in order.

    Each call runs in a thread of its own, so the concurrency is
    ``len(calls)``: bound it by what is passed, not by a setting. The
    caller only waits, so nothing a call sets on its thread (a job group,
    say) leaks into the caller's. A single call runs in the caller's
    thread. Every call finishes before this returns; if any raised, the
    first failure in ``calls`` order is re-raised in the caller.
    """
    if len(calls) <= 1:
        return [c() for c in calls]
    results: list = [None] * len(calls)
    errors: list[BaseException | None] = [None] * len(calls)

    def target(i: int) -> None:
        try:
            results[i] = calls[i]()
        except BaseException as e:  # handed to the caller below
            errors[i] = e

    workers = [InheritableThread(target=copy_context().run, args=(target, i), daemon=True)
               for i in range(len(calls))]
    for w in workers:
        w.start()
    for w in workers:
        w.join()
    for e in errors:
        if e is not None:
            raise e
    return results
