"""Whole-catalog physical-plan audit: no CartesianProduct or
BroadcastNestedLoopJoin outside the documented whitelist, plus pinned
plan shapes for the r12-optimized LLM headline entries.

The whitelist entries are deliberate: quadratic exact baselines whose
scale paths are separate queries, and single-row scalar build sides
(global average / cutoff threshold) which are equivalent to literal
filters. Anything new that plans a nested loop fails here before it
can regress a 100 TB run.
"""

from __future__ import annotations

import pytest

from kwwhat_spark.queries import REGISTRY
from tools.plan_sweep import entry_plan, numbered_nodes


# query -> reason the nested loop is acceptable
WHITELIST = {
    # (similarity_topk left the list: the Arrow/BLAS partial-top-k
    # rewrite eliminated its cross join. dedup_cosine_exact and
    # semantic_dedup left in r13: all_pairs_cosine replaced their
    # non-equi self-joins with one broadcast-matmul scan — a
    # reintroduced cartesian there should fail this audit.)
    "tpch_q22_sales_opportunity": "single-row global-average build side",
    "tpch_q11_important_stock": "single-row cutoff build side",
    "funnel_conversion": "single-row stage totals cross-join",
    "tfidf_top_terms": "single-row corpus-size build side",
    "ocpp_chat_bi_entities": "five single-row metric partials cross-joined "
    "into one row (the BI module's whitelisted scalar-combine pattern)",
    "knn_graph_quantized_replayable": "oracle-twin shape: all-pairs over a "
    "200-row bounded slice only (prod kNN is knn_graph/knn_graph_blocked)",
    "ocpp_chat_bi_pop": "two single-row metric partials cross-joined into "
    "one row per period (the BI module's whitelisted scalar-combine "
    "pattern, same as ocpp_chat_bi_entities)",
    "heavy_hitters_bigrams": "single-row corpus-total build side (the "
    "ceil(theta*N) threshold scalar, same shape as tfidf_top_terms)",
}


# The r12 optimization round's plan wins, pinned so a future edit
# cannot silently re-inflate them (VERDICT r12 next-round #5). Bounds
# are the r12 final-HEAD sweep counts (plans/r12/plan_sweep_all_entries
# .json); each names the change that would trip it if reverted.
def test_clean_corpus_exchange_budget(spark, sf_dir):
    # r12 change 1 (hashed shingles) + change 8: 18 -> 7 shuffle
    # exchanges cumulative over the round.
    nodes = numbered_nodes(entry_plan(spark, sf_dir, "pipeline_clean_corpus"))
    assert nodes.count("Exchange") <= 7


def test_curation_exchange_and_scan_budget(spark, sf_dir):
    # r12 change 5 (carry_cols): the strip's join-back + second gated
    # corpus scan are gone. Reverting it re-adds a broadcast join over
    # a second scan and its exchange.
    plan = entry_plan(spark, sf_dir, "curation_pipeline")
    nodes = numbered_nodes(plan)
    assert nodes.count("Exchange") <= 4
    assert nodes.count("Scan") <= 1


def test_minhash_single_signature_pass(spark, sf_dir):
    # r12 changes 4+7: ONE vectorized MapInPandas signature node, persisted
    # banded rows consumed on both sides of the self-join. A second
    # MapInPandas in the numbered section means the banded persist was
    # dropped and the signature is computed twice.
    plan = entry_plan(spark, sf_dir, "dedup_minhash_lsh")
    nodes = numbered_nodes(plan)
    assert nodes.count("MapInPandas") == 1
    assert "BatchEvalPython" not in plan


def test_spans_gram_keys_are_xxhash(spark, sf_dir):
    # r12 change 6: gram keys are xxhash64 over the sliced token array;
    # no md5 string build anywhere in the plan.
    plan = entry_plan(spark, sf_dir, "dedup_substring_spans")
    assert "xxhash64(slice(" in plan
    assert "md5(" not in plan
    assert numbered_nodes(plan).count("Exchange") <= 3


@pytest.mark.full
@pytest.mark.parametrize("name", sorted(REGISTRY))
def test_no_nested_loop_plans(spark, sf_dir, name):
    plan = (
        REGISTRY[name]
        .spark(spark, sf_dir)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    flagged = [w for w in ("CartesianProduct", "BroadcastNestedLoopJoin") if w in plan]
    if name in WHITELIST:
        return  # documented exception — reason in WHITELIST
    assert not flagged, f"{name} plans {flagged}; whitelist it only with a scale rationale"
