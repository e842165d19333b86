"""Cache-scope hygiene (r13): operators register their persisted
intermediates with cachescope.track; a long-lived session composing
entries releases them with release_tracked() instead of relying on
bench.py's blanket clearCache.
"""

from __future__ import annotations

from kwwhat_spark.operators import cachescope
from kwwhat_spark.operators.cachescope import release_tracked
from kwwhat_spark.queries import REGISTRY


def _persistent_ids(spark) -> set[int]:
    return {int(k) for k in spark.sparkContext._jsc.getPersistentRDDs().keySet()}


def _cache_rdd_id(spark, df) -> int | None:
    """Id of the RDD holding ``df``'s materialised cache entry, or None
    when ``df`` has no loaded entry. Asserting on the tracked handles'
    own entries keeps the test independent of whatever else the shared
    session holds or ContextCleaner frees meanwhile."""
    cm = spark._jsparkSession.sharedState().cacheManager()
    cached = cm.lookupCachedData(df._jdf)
    if not cached.isDefined():
        return None
    builder = cached.get().cachedRepresentation().cacheBuilder()
    if not builder.isCachedColumnBuffersLoaded():
        return None
    return builder.cachedColumnBuffers().id()


def test_release_tracked_after_two_entry_composition(spark, sf_dir):
    # Start from an empty tracked list and no plan-keyed caches, so each
    # handle below owns the cache entry the lookup finds.
    release_tracked(blocking=True)
    spark.catalog.clearCache()

    # Two cache-holding entries composed in ONE session, both
    # materialized (the r12 verdict's composition scenario: minhash
    # holds shingled+banded, the span strip holds its token stage).
    for name in ("dedup_minhash_lsh", "dedup_substring_spans"):
        df = REGISTRY[name].spark(spark, sf_dir)
        df.write.format("noop").mode("overwrite").save()
    handles = list(cachescope._TRACKED)
    ids = [_cache_rdd_id(spark, h) for h in handles]
    # The intra-query caches exist and are live...
    assert None not in ids and set(ids) <= _persistent_ids(spark)

    n = release_tracked(blocking=True)
    assert n >= 3  # ...all of them were tracked (shingled, banded, tokens)
    assert n == len(handles)
    # ...and release drops every one.
    assert all(_cache_rdd_id(spark, h) is None for h in handles)
    assert not set(ids) & _persistent_ids(spark)


def test_release_tracked_idempotent(spark):
    assert release_tracked() == 0
