"""``Pipeline.merge_prior``, the one prior-state merge of the
incremental models, run over a few hand-built batch and prior rows (no
DAG build)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from kwwhat_spark.models import Pipeline

BATCH = ("k1 string, k2 int, b_wins string, other string, p_wins string,"
         " tags array<string>, lo int, hi int, avg double, n long, fst string, lst string")
PRIOR = ("k1 string, k2 int, open boolean, b_wins string, other string, p_wins string,"
         " tags array<string>, lo int, hi int, avg double, n long, fst string, lst string")
# fst / lst are ordered by lo / hi, which keep their own rules.
COMBINE = {"b_wins": "batch", "p_wins": "prior", "tags": "union",
           "lo": "least", "hi": "greatest", "avg": ("mean", "n"),
           "fst": ("first", "lo"), "lst": ("last", "hi")}


@pytest.fixture(scope="module")
def batch(spark):
    return spark.createDataFrame([
        # Matched: every rule on non-null values; both timestamps later.
        ("a", 1, "new", "b", "new", ["y", "x"], 5, 5, 2.0, 2, "new", "new"),
        # Matched: null batch values fall back to the prior ones.
        ("b", 1, None, "b", "new", None, None, 7, 4.0, 1, "new", "new"),
        # No prior row with this key.
        ("c", 1, "new", "b", "new", ["x"], 1, 1, 1.0, 1, "new", "new"),
        # Its prior row is excluded by the prior filter.
        ("d", 1, "new", "b", "new", ["x"], 1, 1, 1.0, 1, "new", "new"),
        # A null key never matches, not even a prior null key.
        (None, 1, "new", "b", "new", ["x"], 1, 1, 1.0, 1, "new", "new"),
        # Matched: lo earlier than the prior's, hi equal to it.
        ("f", 1, "new", "b", "new", ["x"], 1, 4, 1.0, 1, "new", "new"),
        # Matched: lo equal to the prior's, hi earlier than it.
        ("g", 1, "new", "b", "new", ["x"], 3, 2, 1.0, 1, "new", "new"),
    ], BATCH)


@pytest.fixture(scope="module")
def merged(spark, batch):
    prior = spark.createDataFrame([
        ("a", 1, True, "old", "p", "old", ["x", "z"], 3, 3, 5.0, 1, "old", "old"),
        ("a", 2, True, "old", "p", "old", ["q"], 0, 9, 9.0, 9, "old", "old"),
        ("b", 1, True, "old", "p", None, ["q"], 2, None, None, 4, "old", "old"),
        ("d", 1, False, "old", "p", "old", ["q"], 0, 9, 9.0, 9, "old", "old"),
        ("e", 1, True, "old", "p", "old", ["q"], 0, 9, 9.0, 9, "old", "old"),
        (None, 1, True, "old", "p", "old", ["q"], 0, 9, 9.0, 9, "old", "old"),
        ("f", 1, True, "old", "p", "old", ["q"], 4, 4, 1.0, 1, "old", "old"),
        ("g", 1, True, "old", "p", "old", ["q"], 3, 6, 1.0, 1, "old", "old"),
    ], PRIOR)
    p = Pipeline(spark=spark, sources={}, this_dfs={"m": prior})
    return p.merge_prior("m", batch, ["k1", "k2"], COMBINE, prior_filter=F.col("open"))


def _by_key(df):
    return {(r["k1"], r["k2"]): tuple(r) for r in df.collect()}


def test_rules_on_matched_rows(batch, merged):
    assert merged.columns == batch.columns
    got = _by_key(merged)
    # least/greatest skip nulls; the mean is count-weighted and the
    # count summed: (2.0 * 2 + 5.0 * 1) / 3. The first value is the
    # prior's (batch lo later), the last the batch's (batch hi later).
    assert got[("a", 1)] == ("a", 1, "new", "b", "old", ["x", "y", "z"], 3, 5, 3.0, 3,
                             "old", "new")
    # A null prior mean keeps the batch mean; the count is still summed.
    # A null batch lo keeps the prior first value, a null prior hi the
    # batch last value.
    assert got[("b", 1)] == ("b", 1, "old", "b", "new", ["q"], 2, 7, 4.0, 5, "old", "new")


def test_first_and_last_follow_their_timestamp(merged):
    got = _by_key(merged)
    # Batch lo earlier: first is the batch's; equal hi: last is the
    # batch's. lo and hi themselves stay least / greatest.
    assert got[("f", 1)][6:] == (1, 4, 1.0, 2, "new", "new")
    # Equal lo: first is the batch's; batch hi earlier: last is the prior's.
    assert got[("g", 1)][6:] == (3, 6, 1.0, 2, "new", "old")


def test_unmatched_rows_pass_through_and_prior_rows_stay_out(batch, merged):
    assert merged.count() == batch.count()
    got, want = _by_key(merged), _by_key(batch)
    for key in [("c", 1), ("d", 1), (None, 1)]:
        assert got[key] == want[key]
    # Prior rows absent from the batch never appear.
    assert set(got) == set(want)


def test_full_refresh_returns_the_batch(spark, batch):
    p = Pipeline(spark=spark, sources={})
    assert p.merge_prior("m", batch, ["k1", "k2"], COMBINE) is batch
