"""Streaming dedup and the streaming MERGE (upsert) sink.

The reference materializes every non-view model with
`incremental_strategy='merge'` (SURVEY.md §2.8); batch mode replays
that through plans/incremental.ParquetStateStore. `merge_sink` is the
streaming half of the same story: each micro-batch upserts into the
store by key via foreachBatch, so a continuously-running stream
maintains exactly the table a scheduled incremental batch run would,
in the layout the store gives the target name (date partitions if it
has a cluster column, else versioned directories).
Because the MERGE is keyed, redelivered micro-batches are idempotent —
at-least-once delivery upgrades to effectively-once table state.

`stream_dedup` wraps withWatermark + dropDuplicatesWithinWatermark:
exact streaming dedup whose per-key state is garbage-collected once
the watermark passes (bounded state — the requirement for running
forever at 100 TB/day; an unbounded dropDuplicates would OOM).
"""

from __future__ import annotations

from functools import reduce
from operator import or_

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQuery

from kwwhat_spark.plans.incremental import ParquetStateStore


def stream_dedup(
    df: DataFrame,
    keys: list[str],
    watermark_col: str,
    delay: str = "30 minutes",
) -> DataFrame:
    """Drop rows whose `keys` were already seen within the watermark
    horizon. State per key is dropped once `watermark_col` advances past
    `delay` — bounded memory, exact within the horizon (the reference's
    30-min late-data buffer is the same contract, SURVEY.md §2.8)."""
    return df.withWatermark(watermark_col, delay).dropDuplicatesWithinWatermark(keys)


def merge_sink(
    df: DataFrame,
    store: ParquetStateStore,
    name: str,
    keys: list[str],
    *,
    checkpoint_dir: str,
    available_now: bool = True,
) -> StreamingQuery:
    """Start a streaming query that MERGEs each micro-batch into
    `store[name]` on `keys` (new rows win). Returns the running query;
    callers awaitTermination().

    foreachBatch runs the merge as a batch job per micro-batch, so the
    store sees the same key-replacement semantics the incremental
    runner applies — a stream and a scheduled batch can maintain the
    same mart interchangeably.
    """

    def _merge(batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        # Within one micro-batch the same key may appear twice; keep one
        # row per complete key before merging. Which one is arbitrary:
        # dropDuplicates promises no order. A key with a null column
        # identifies no row (the store's _replace keeps every distinct
        # one), and dropDuplicates would treat its nulls as equal, so such
        # rows lose only their exact duplicates.
        null_key = reduce(or_, [F.col(k).isNull() for k in keys])
        batch_df = batch_df.filter(~null_key).dropDuplicates(keys).unionByName(
            batch_df.filter(null_key).distinct()
        )
        store.merge(name, batch_df, keys)

    writer = (
        df.writeStream.foreachBatch(_merge)
        .option("checkpointLocation", checkpoint_dir)
        .outputMode("update")
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()
