"""Streaming dedup + MERGE sink: exactness within the watermark horizon
and batch-equivalent upsert semantics across micro-batches."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from kwwhat_spark.plans.incremental import ParquetStateStore
from kwwhat_spark.sources.testdata import load_table
from kwwhat_spark.streaming.sinks import merge_sink, stream_dedup
from tests.conftest import await_stream

SCHEMA = ("event_id long, ts timestamp, user_id long, event_type string, "
          "value double, props string")


@pytest.fixture()
def dup_dir(spark, sf_dir, tmp_path):
    """Events written twice (two files) → every row is a duplicate."""
    d = str(tmp_path / "dup_events")
    e = load_table(spark, sf_dir, "events").limit(500)
    e.write.mode("overwrite").parquet(d)
    e.write.mode("append").parquet(d)
    return d


def test_stream_dedup_drops_within_watermark(spark, dup_dir):
    stream = spark.readStream.schema(SCHEMA).parquet(dup_dir)
    deduped = stream_dedup(stream, ["event_id"], "ts", "1 hour")
    q = (
        deduped.writeStream.format("memory").queryName("dedup_out")
        .outputMode("append").trigger(availableNow=True).start()
    )
    await_stream(q, 120)
    out = spark.table("dedup_out")
    assert out.count() == 500
    assert out.select("event_id").distinct().count() == 500


# The versioned, then the clustered layout.
STORES = [
    lambda spark, p: ParquetStateStore(spark, p),
    lambda spark, p: ParquetStateStore(spark, p, cluster_by={"events_mart": "ts"}),
]


@pytest.mark.parametrize("store_fn", STORES)
def test_merge_sink_upserts_across_microbatches(spark, sf_dir, tmp_path, store_fn):
    src = str(tmp_path / "merge_src")
    e = load_table(spark, sf_dir, "events").limit(300).select(
        "event_id", "ts", "user_id", "event_type", "value", "props")
    # File 1: original rows. File 2: same keys, value shifted — the
    # second micro-batch must REPLACE, not append.
    e.coalesce(1).write.mode("overwrite").parquet(src + "/f1")
    e.withColumn("value", F.col("value") + 1000.0).coalesce(1).write.mode(
        "overwrite").parquet(src + "/f2")
    import glob
    import shutil
    d = str(tmp_path / "stream_in")
    import os
    os.makedirs(d)
    shutil.copy(glob.glob(src + "/f1/*.parquet")[0], d + "/0001.parquet")
    shutil.copy(glob.glob(src + "/f2/*.parquet")[0], d + "/0002.parquet")

    store = store_fn(spark, str(tmp_path / "state"))
    stream = (
        spark.readStream.schema(SCHEMA)
        .option("maxFilesPerTrigger", 1)
        .option("latestFirst", "false")
        .parquet(d)
    )
    q = merge_sink(stream, store, "events_mart", ["event_id"],
                   checkpoint_dir=str(tmp_path / "ckpt"))
    await_stream(q, 180)

    final = store.read("events_mart")
    assert final.count() == 300  # keys replaced, not appended
    # Every value reflects the LAST file (shifted by 1000).
    orig = {r.event_id: r.value for r in e.collect()}
    got = {r.event_id: r.value for r in final.collect()}
    assert got == {k: v + 1000.0 for k, v in orig.items()}


def test_merge_sink_is_idempotent_on_redelivery(spark, sf_dir, tmp_path):
    e = load_table(spark, sf_dir, "events").limit(100).select(
        "event_id", "ts", "user_id", "event_type", "value", "props")
    # One more row, whose key has a null column: redelivery replaces it
    # instead of storing it a second time.
    orphan = e.limit(1).withColumn("user_id", F.lit(None).cast("long"))
    e = e.unionByName(orphan)
    keys = ["event_id", "user_id"]
    for i, store_fn in enumerate(STORES):
        store = store_fn(spark, str(tmp_path / f"state{i}"))
        # Simulate redelivery by merging the same batch twice directly.
        store.merge("events_mart", e, keys)
        store.merge("events_mart", e, keys)
        assert store.read("events_mart").count() == 101
        # A different row under the same null key is one more row: a key
        # with a null column identifies no row, so nothing is replaced.
        store.merge("events_mart", orphan.withColumn("value", F.col("value") + 1.0), keys)
        assert store.read("events_mart").count() == 102


@pytest.mark.parametrize("store_fn", STORES)
def test_merge_sink_keeps_distinct_null_key_rows_in_one_microbatch(
    spark, sf_dir, tmp_path, store_fn
):
    row = load_table(spark, sf_dir, "events").limit(1).select(
        "event_id", "ts", "user_id", "event_type", "value", "props")
    orphan = row.withColumn("user_id", F.lit(None).cast("long"))
    # One complete key, two distinct rows under the same null key and an
    # exact duplicate of one of them: the duplicate goes, the rest stay.
    batch = row.unionByName(orphan).unionByName(orphan).unionByName(
        orphan.withColumn("value", F.col("value") + 1.0))
    d = str(tmp_path / "stream_in")
    batch.coalesce(1).write.parquet(d)

    store = store_fn(spark, str(tmp_path / "state"))
    stream = spark.readStream.schema(SCHEMA).parquet(d)
    q = merge_sink(stream, store, "events_mart", ["event_id", "user_id"],
                   checkpoint_dir=str(tmp_path / "ckpt"))
    await_stream(q, 180)
    assert store.read("events_mart").count() == 3
