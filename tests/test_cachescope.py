"""The one cache lifetime: cachescope.scope() owns what keep() registers
inside it and releases it on exit — persisted and checkpointed
DataFrames and broadcasts alike — and the bench's trial loop and the
streaming micro-batch handlers leave nothing behind.
"""

from __future__ import annotations

import sys
import threading

import pytest

import bench
from kwwhat_spark.operators import cachescope
from kwwhat_spark.operators.cachescope import checkpoint_rdd, keep, release, scope
from kwwhat_spark.threads import run_all

SF001 = "/root/testdata/sf0.01"


def _persistent_ids(spark) -> set[int]:
    return {int(k) for k in spark.sparkContext._jsc.getPersistentRDDs().keySet()}


def _cache_empty(spark) -> bool:
    return spark._jsparkSession.sharedState().cacheManager().isEmpty()


def _checkpoint(spark, n: int = 5):
    return spark.range(n).localCheckpoint(eager=True)


def _live(spark, df) -> bool:
    return checkpoint_rdd(df).id() in _persistent_ids(spark)


def test_nested_scopes_release_at_their_own_exit(spark):
    with scope():
        outer = keep(_checkpoint(spark))
        with scope():
            inner = keep(_checkpoint(spark))
        assert not _live(spark, inner)  # the inner scope owned it
        assert _live(spark, outer)
        late = keep(_checkpoint(spark))  # the outer scope is innermost again
    assert not _live(spark, outer) and not _live(spark, late)


def test_keep_without_a_scope_leaves_the_caller_owner(spark):
    df = _checkpoint(spark)
    assert keep(df) is df
    with scope():
        pass
    assert _live(spark, df)
    release(df)
    assert not _live(spark, df)


def test_keeps_from_run_all_workers_land_in_the_callers_scope(spark):
    opened, kept = threading.Event(), threading.Event()
    inner: dict[str, object] = {}

    def keeper():
        assert opened.wait(60)
        df = keep(_checkpoint(spark, 3))  # while the sibling's scope is open
        kept.set()
        return df

    def scoped():
        df = keep(_checkpoint(spark, 4))
        with scope():  # holds only this worker's keeps
            opened.set()
            inner["df"] = keep(_checkpoint(spark))
            assert kept.wait(60)
        inner["freed"] = not _live(spark, inner["df"])
        return df

    with scope():
        dfs = run_all([keeper, scoped])
        assert inner["freed"]
        assert all(_live(spark, df) for df in dfs)
    assert not any(_live(spark, df) for df in dfs)


def test_concurrent_keeps_all_land_in_one_scope(spark):
    # More workers than cores, switching threads as often as possible:
    # a lost append would leave a cache behind.
    spark.catalog.clearCache()
    old = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)
    try:
        with scope():
            run_all([lambda: [keep(spark.range(i).persist()) for i in range(10)]] * 16)
            assert len(cachescope._SCOPES.get()[-1]) == 160
        assert _cache_empty(spark)
    finally:
        sys.setswitchinterval(old)


def test_a_kept_broadcast_is_destroyed_on_exit(spark):
    with scope():
        bc = keep(spark.sparkContext.broadcast([1, 2, 3]))
        assert spark.sparkContext.parallelize([0]).map(lambda _: sum(bc.value)).collect() == [6]
    assert not bc._jbroadcast.isValid()
    release(bc)  # a second release is harmless


def test_release_happens_although_the_body_raised(spark):
    with pytest.raises(ZeroDivisionError):
        with scope():
            cached = keep(spark.range(7).persist())
            cached.count()
            ckpt = keep(_checkpoint(spark))
            1 / 0
    assert not _live(spark, ckpt)
    assert not spark._jsparkSession.sharedState().cacheManager() \
        .lookupCachedData(cached._jdf).isDefined()


# Entries that persist, checkpoint or broadcast (each held storage past
# the entry before the scope existed), run as bench.py runs them.
HOLDING_ENTRIES = [
    "similarity_topk", "knn_graph_embeddings", "semdedup_clustered",
    "orc_source_roundtrip", "pagerank_interactions", "dedup_minhash_lsh",
    "dedup_substring_spans", "curation_pipeline", "tpch_q2_min_cost_supplier",
    "bpe_learn_merges",
]


@pytest.mark.parametrize("name", HOLDING_ENTRIES)
def test_time_entry_leaves_nothing_held(spark, monkeypatch, name):
    sc = spark.sparkContext
    broadcasts = []
    real = type(sc).broadcast

    def recording(self, value):
        bc = real(self, value)
        broadcasts.append(bc)
        return bc

    monkeypatch.setattr(type(sc), "broadcast", recording)
    spark.catalog.clearCache()  # whatever earlier tests cached is not the entry's
    before = _persistent_ids(spark)
    bench.time_entry(spark, name, SF001, 1)
    assert not _persistent_ids(spark) - before
    assert _cache_empty(spark)
    assert not [bc for bc in broadcasts if bc._jbroadcast.isValid()]


def test_streaming_dedup_handlers_free_each_microbatch(spark, tmp_path):
    from kwwhat_spark.plans.incremental import ParquetStateStore
    from kwwhat_spark.streaming.corpus import (
        archive_dedup_batch_handler,
        line_dedup_batch_handler,
    )

    store = ParquetStateStore(spark, str(tmp_path / "state"))
    handlers = [
        archive_dedup_batch_handler(store, str(tmp_path / "archive")),
        line_dedup_batch_handler(store, str(tmp_path / "lines"), min_chars=3),
    ]
    text = "the quick brown fox jumps over the lazy dog near river bank {}"
    spark.catalog.clearCache()
    for handler in handlers:
        for batch_id in range(3):
            rows = [(batch_id * 6 + i, text.format(i % 2) + "\nshared footer line")
                    for i in range(6)]
            batch = spark.createDataFrame(rows, "doc_id long, text string")
            before = _persistent_ids(spark)
            handler(batch, batch_id)
            assert not _persistent_ids(spark) - before, (handler, batch_id)
            assert _cache_empty(spark), (handler, batch_id)
    assert spark.read.parquet(str(tmp_path / "lines")).count() == 18
