"""Streaming corpus ingest: the training-data pipeline's front door.

A continuously-arriving document feed (files landing in object storage,
a Kafka topic of crawled pages) runs the same narrow enrichment
expressions as the batch cleaning pipeline — content hash, token count,
quality score, language guess — then exact-dedups on content hash with
watermark-bounded state and appends. Everything before the dedup is a
stateless per-row transform, so the streaming and batch paths share one
expression set and cannot drift.

Scale: per-key dedup state is garbage-collected past the watermark
(bounded memory forever); the enrichment is pipelined into the source
scan with no shuffle; the only stateful exchange is the hash-partition
on content_hash that dropDuplicatesWithinWatermark requires. Historical
(pre-stream) dedup is the batch job's responsibility — the standard
lambda split: stream handles the horizon, nightly batch handles the
archive.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from kwwhat_spark.functions.text import (
    lang_id,
    quality_score,
    repetition_signals,
    whitespace_token_count,
)
from kwwhat_spark.operators.cachescope import scope
from kwwhat_spark.streaming.sinks import stream_dedup


def enrich_documents(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Stateless enrichment shared by batch and streaming ingest:
    content_hash (md5), token_count, quality, lang_guess, plus the
    Gopher repetition signals (a pure per-row struct, so it streams
    without state — repetition gating happens at ingest, before any
    document reaches dedup state or storage)."""
    return (
        df.withColumn("content_hash", F.md5(F.col(text_col)))
        .withColumn("token_count", whitespace_token_count(text_col))
        .withColumn("quality", quality_score(text_col))
        .withColumn("lang_guess", lang_id(text_col))
        .withColumn("repetition", repetition_signals(text_col))
    )


def stream_ingest_corpus(
    stream: DataFrame,
    text_col: str = "text",
    *,
    min_quality: float = 0.0,
    min_tokens: int = 1,
    max_dup_3gram_frac: float = 1.0,
    dedup_delay: str = "1 hour",
    ts_col: str | None = None,
) -> DataFrame:
    """Enrich + quality-gate + watermarked exact-dedup a document stream.

    `ts_col` is the event-time column for the dedup watermark; if the
    feed has none (plain file drops), ingest processing time is used —
    dedup is then exact within `dedup_delay` of arrival, the same
    contract as the reference's late-data buffer (SURVEY.md §2.8).
    """
    enriched = enrich_documents(stream, text_col)
    if ts_col is None:
        ts_col = "ingest_ts"
        enriched = enriched.withColumn(ts_col, F.current_timestamp())
    gated = enriched.filter(
        (F.col("quality") >= F.lit(min_quality))
        & (F.col("token_count") >= F.lit(min_tokens))
        & (F.col("repetition")["dup_3gram_frac"] <= F.lit(max_dup_3gram_frac))
    )
    return stream_dedup(gated, ["content_hash"], ts_col, dedup_delay)


def stream_archive_dedup(
    stream: DataFrame,
    store,
    out_dir: str,
    *,
    name: str = "minhash_index",
    text_col: str = "text",
    id_col: str = "doc_id",
    threshold: float = 0.5,
):
    """Continuous archive-scale near-dup dedup: each micro-batch runs
    the minhash-dedup plan against the persistent band index (state
    grows with KEPT docs only, never raw corpus bytes) and writes the
    fresh survivors to a batch_id-scoped subdir of `out_dir`.
    foreachBatch gives the micro-batch a full batch-plan (the LSH
    self-join is not stream-expressible). Replay safety: survivors are
    materialized pre-merge, written before the index commit, and
    archive hits on a doc's own id are excluded — so a replayed batch
    skips (if committed) or overwrites the same survivor set; a crash
    between merge and write cannot lose survivors. One index serves the
    nightly batch job AND the live stream — the lambda-architecture
    unification. Store lifetime is tied to the checkpoint dir (batch
    ids restarting at 0 need a fresh index name).

    Returns the DataStreamWriter; caller adds checkpoint options and
    start()s it.
    """
    handler = archive_dedup_batch_handler(
        store, out_dir, name=name, text_col=text_col, id_col=id_col,
        threshold=threshold,
    )
    return stream.writeStream.foreachBatch(handler)


def archive_dedup_batch_handler(
    store,
    out_dir: str,
    *,
    name: str = "minhash_index",
    text_col: str = "text",
    id_col: str = "doc_id",
    threshold: float = 0.5,
):
    """The foreachBatch body of stream_archive_dedup, exposed so the
    replay contract is directly testable: calling it twice with the same
    batch_id must leave output and index identical to calling it once."""
    from kwwhat_spark.operators.dedup import minhash_dedup_plan

    def _dedup_batch(batch_df: DataFrame, batch_id: int) -> None:
        last = store.last_batch_id(f"{name}_sigs")
        if last is not None and batch_id <= last:
            return  # fully-committed replay: output dir already written
        with scope():  # one cache scope per micro-batch
            fresh, commit = minhash_dedup_plan(
                batch_df, store, id_col, text_col, name=name, threshold=threshold
            )
            # Survivors are materialized against the pre-merge index, and
            # the write lands BEFORE the index commit in a batch_id-scoped
            # dir — a replayed micro-batch overwrites the same dir with the
            # same rows (self-id archive matches are excluded from the dup
            # verdict) instead of appending duplicates or losing survivors.
            fresh.write.mode("overwrite").parquet(
                os.path.join(out_dir, f"batch_id={batch_id}")
            )
            commit(batch_id)

    return _dedup_batch


def stream_line_dedup(
    stream: DataFrame,
    store,
    out_dir: str,
    *,
    name: str = "corpus_line_index",
    text_col: str = "text",
    id_col: str = "doc_id",
    min_chars: int = 1,
):
    """Continuous C4-style line dedup: each micro-batch runs the
    line-dedup plan against the persistent line-hash index (the state
    holds ~32 bytes per distinct line, never document text) and writes
    the per-doc cleaned output to a batch_id-scoped subdir of `out_dir`.
    foreachBatch gives the micro-batch a full batch plan (the
    corpus-wide first-occurrence window is not stream-expressible).

    Replay safety (exactly-once output): verdicts are MATERIALIZED
    against the pre-merge index version, the output write lands before
    the index commit, and the commit records batch_id atomically with
    the index pointer swap — so a replayed micro-batch either skips
    (already committed; its output dir is on disk) or reproduces the
    original verdicts and overwrites the same dir. No path re-emits a
    doc's first-occurrence lines as duplicates or strips them twice.
    The store's lifetime is tied to the stream's checkpoint dir: a new
    checkpoint (batch ids restarting at 0) needs a fresh index name.

    Returns the DataStreamWriter; caller adds checkpoint options and
    start()s it.
    """
    handler = line_dedup_batch_handler(
        store, out_dir, name=name, text_col=text_col, id_col=id_col,
        min_chars=min_chars,
    )
    return stream.writeStream.foreachBatch(handler)


def line_dedup_batch_handler(
    store,
    out_dir: str,
    *,
    name: str = "corpus_line_index",
    text_col: str = "text",
    id_col: str = "doc_id",
    min_chars: int = 1,
):
    """The foreachBatch body of stream_line_dedup, exposed so the replay
    contract is directly testable: a redelivered batch_id must reproduce
    the original cleaned output (same verdicts, same path, overwrite) or
    skip entirely if its commit already landed."""
    from kwwhat_spark.operators.corpus import line_dedup_plan

    def _dedup_batch(batch_df: DataFrame, batch_id: int) -> None:
        last = store.last_batch_id(name)
        if last is not None and batch_id <= last:
            return  # fully-committed replay: output dir already written
        with scope():  # one cache scope per micro-batch
            cleaned, commit = line_dedup_plan(
                batch_df, store, name=name, key=id_col, text_col=text_col,
                min_chars=min_chars,
            )
            cleaned.write.mode("overwrite").parquet(
                os.path.join(out_dir, f"batch_id={batch_id}")
            )
            commit(batch_id)

    return _dedup_batch
