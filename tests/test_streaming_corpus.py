"""Streaming corpus ingest: stream output must equal the batch
equivalent (same enrichment expressions, exact dedup, quality gate)."""

from __future__ import annotations

import pytest

# Slow tier (r13 suite split): availableNow streaming corpus pipelines.
# Default runs exclude it (pytest.ini addopts); run with -m full.
pytestmark = pytest.mark.full
from pyspark.sql import functions as F

from kwwhat_spark.sources.testdata import load_table
from kwwhat_spark.streaming.corpus import enrich_documents, stream_ingest_corpus
from tests.conftest import await_stream

DOC_SCHEMA = "doc_id long, text string, lang string, source string, n_chars int"


@pytest.fixture()
def doc_feed(spark, sf_dir, tmp_path):
    """Documents landed twice (two files) → every doc is a duplicate."""
    d = str(tmp_path / "doc_feed")
    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", "text", "lang", "source", F.col("n_chars").cast("int").alias("n_chars")
    )
    docs.write.mode("overwrite").parquet(d)
    docs.write.mode("append").parquet(d)
    return d


def test_stream_ingest_matches_batch(spark, sf_dir, doc_feed):
    min_q, min_t = 0.3, 10
    stream = spark.readStream.schema(DOC_SCHEMA).parquet(doc_feed)
    out = stream_ingest_corpus(stream, min_quality=min_q, min_tokens=min_t)
    q = (
        out.writeStream.format("memory").queryName("corpus_ingest")
        .outputMode("append").trigger(availableNow=True).start()
    )
    await_stream(q, 180)
    got = spark.table("corpus_ingest")

    batch = enrich_documents(load_table(spark, sf_dir, "documents")).filter(
        (F.col("quality") >= min_q) & (F.col("token_count") >= min_t)
    )
    expected_hashes = {r.content_hash for r in batch.select("content_hash").distinct().collect()}
    got_hashes = [r.content_hash for r in got.select("content_hash").collect()]
    assert len(got_hashes) == len(set(got_hashes)), "stream emitted duplicate content"
    assert set(got_hashes) == expected_hashes
    # Enrichment values identical to batch for a spot-checked doc.
    one = got.orderBy("doc_id").limit(1).collect()[0]
    b = batch.filter(F.col("doc_id") == one.doc_id).collect()[0]
    assert (one.token_count, one.quality, one.lang_guess) == (
        b.token_count, b.quality, b.lang_guess,
    )


def test_stream_repetition_gate_drops_repetitive_docs(spark, tmp_path):
    d = str(tmp_path / "rep_feed")
    docs = spark.createDataFrame(
        [
            (1, "spam spam spam spam spam spam spam spam", "en", "s", 40),
            (2, "a perfectly ordinary sentence with the varied words of prose", "en", "s", 60),
        ],
        DOC_SCHEMA,
    )
    docs.write.mode("overwrite").parquet(d)
    stream = spark.readStream.schema(DOC_SCHEMA).parquet(d)
    out = stream_ingest_corpus(stream, max_dup_3gram_frac=0.2)
    q = (
        out.writeStream.format("memory").queryName("rep_gate")
        .outputMode("append").trigger(availableNow=True).start()
    )
    await_stream(q, 120)
    got = spark.table("rep_gate").select("doc_id", "repetition.dup_3gram_frac").collect()
    assert [r.doc_id for r in got] == [2]


def test_stream_archive_dedup_across_restarts(spark, tmp_path):
    from kwwhat_spark.plans.incremental import ParquetStateStore
    from kwwhat_spark.streaming.corpus import stream_archive_dedup

    feed, out = str(tmp_path / "feed"), str(tmp_path / "deduped")
    ckpt = str(tmp_path / "ckpt")
    store = ParquetStateStore(spark, str(tmp_path / "state"))
    base = "the quick brown fox jumps over the lazy dog near the old river bank today"

    def run_once():
        stream = spark.readStream.schema("doc_id long, text string").parquet(feed)
        q = (
            stream_archive_dedup(stream, store, out)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        await_stream(q, 120)

    spark.createDataFrame(
        [(1, base), (2, "unrelated words about shuffle partitions and broadcast joins")],
        "doc_id long, text string",
    ).write.mode("append").parquet(feed)
    run_once()
    # Second drop: one dup of an archived doc, one near-dup, one fresh.
    spark.createDataFrame(
        [(10, base), (11, base + " indeed"), (12, "genuinely new text with novel tokens entirely")],
        "doc_id long, text string",
    ).write.mode("append").parquet(feed)
    run_once()

    got = sorted(r.doc_id for r in spark.read.parquet(out).collect())
    assert got == [1, 2, 12]


def test_stream_line_dedup_across_restarts(spark, tmp_path):
    from kwwhat_spark.plans.incremental import ParquetStateStore
    from kwwhat_spark.streaming.corpus import stream_line_dedup

    feed, out = str(tmp_path / "lfeed"), str(tmp_path / "lcleaned")
    ckpt = str(tmp_path / "lckpt")
    store = ParquetStateStore(spark, str(tmp_path / "lstate"))

    def run_once():
        stream = spark.readStream.schema("doc_id long, text string").parquet(feed)
        q = (
            stream_line_dedup(stream, store, out, min_chars=3)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        await_stream(q, 120)

    spark.createDataFrame(
        [(1, "first unique line\nshared boilerplate footer"),
         (2, "second unique line\nshared boilerplate footer")],
        "doc_id long, text string",
    ).write.mode("append").parquet(feed)
    run_once()
    # Later micro-batch: an archived line resurfaces in a new doc.
    spark.createDataFrame(
        [(3, "brand new content line\nshared boilerplate footer")],
        "doc_id long, text string",
    ).write.mode("append").parquet(feed)
    run_once()

    got = {r.doc_id: r for r in spark.read.parquet(out).collect()}
    assert got[1]["text_clean"] == "first unique line\nshared boilerplate footer"
    assert got[2]["text_clean"] == "second unique line"
    assert got[3]["text_clean"] == "brand new content line"
    assert got[3]["n_lines"] == 2 and got[3]["n_kept"] == 1


def test_stream_line_dedup_replay_is_exactly_once(spark, tmp_path):
    from kwwhat_spark.operators.corpus import line_dedup_plan
    from kwwhat_spark.plans.incremental import ParquetStateStore
    from kwwhat_spark.streaming.corpus import line_dedup_batch_handler

    out = str(tmp_path / "out")
    store = ParquetStateStore(spark, str(tmp_path / "state"))
    handler = line_dedup_batch_handler(store, out, min_chars=3)
    b0 = spark.createDataFrame(
        [(1, "first unique line\nshared boilerplate footer"),
         (2, "second unique line\nshared boilerplate footer")],
        "doc_id long, text string",
    )
    handler(b0, 0)
    first = {r.doc_id: r.text_clean for r in spark.read.parquet(out).collect()}
    assert first[1] == "first unique line\nshared boilerplate footer"
    assert first[2] == "second unique line"
    assert store.last_batch_id("corpus_line_index") == 0

    # Redelivery after a full commit (crash before the stream's own
    # checkpoint commit): the handler skips — no duplicate doc_ids, no
    # over-stripped text_clean.
    handler(b0, 0)
    rows = spark.read.parquet(out).collect()
    assert len(rows) == 2
    assert {r.doc_id: r.text_clean for r in rows} == first

    # Crash AFTER the output write but BEFORE the index commit: the
    # restart replays the batch against the unswapped index version and
    # overwrites the same dir with the original verdicts.
    b1 = spark.createDataFrame(
        [(3, "a genuinely new line\nshared boilerplate footer")],
        "doc_id long, text string",
    )
    cleaned, _never_committed = line_dedup_plan(b1, store, min_chars=3)
    cleaned.write.mode("overwrite").parquet(out + "/batch_id=1")
    handler(b1, 1)
    got = {r.doc_id: r.text_clean for r in spark.read.parquet(out).collect()}
    assert len(got) == 3
    assert got[3] == "a genuinely new line"
    assert store.last_batch_id("corpus_line_index") == 1


def test_stream_archive_dedup_replay_is_exactly_once(spark, tmp_path):
    from kwwhat_spark.plans.incremental import ParquetStateStore
    from kwwhat_spark.streaming.corpus import archive_dedup_batch_handler

    out = str(tmp_path / "out")
    store = ParquetStateStore(spark, str(tmp_path / "state"))
    handler = archive_dedup_batch_handler(store, out)
    base = "the quick brown fox jumps over the lazy dog near the old river bank today"
    b0 = spark.createDataFrame(
        [(1, base), (2, "unrelated words about shuffle partitions and broadcast joins")],
        "doc_id long, text string",
    )
    handler(b0, 0)
    assert sorted(r.doc_id for r in spark.read.parquet(out).collect()) == [1, 2]
    # Redelivery after a full commit: skipped — survivors are not
    # re-dropped as duplicates of themselves, output rows not appended.
    handler(b0, 0)
    assert sorted(r.doc_id for r in spark.read.parquet(out).collect()) == [1, 2]
    assert store.last_batch_id("minhash_index_sigs") == 0
