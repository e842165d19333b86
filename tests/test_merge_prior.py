"""``Pipeline.merge_prior``, the one prior-state merge of the
incremental models, run over a few hand-built batch and prior rows (no
DAG build)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from kwwhat_spark.models import Pipeline

BATCH = ("k1 string, k2 int, b_wins string, other string, p_wins string,"
         " tags array<string>, lo int, hi int, avg double, n long")
PRIOR = ("k1 string, k2 int, open boolean, b_wins string, other string, p_wins string,"
         " tags array<string>, lo int, hi int, avg double, n long")
COMBINE = {"b_wins": "batch", "p_wins": "prior", "tags": "union",
           "lo": "least", "hi": "greatest", "avg": ("mean", "n")}


@pytest.fixture(scope="module")
def batch(spark):
    return spark.createDataFrame([
        # Matched: every rule on non-null values.
        ("a", 1, "new", "b", "new", ["y", "x"], 5, 5, 2.0, 2),
        # Matched: null batch values fall back to the prior ones.
        ("b", 1, None, "b", "new", None, None, 7, 4.0, 1),
        # No prior row with this key.
        ("c", 1, "new", "b", "new", ["x"], 1, 1, 1.0, 1),
        # Its prior row is excluded by the prior filter.
        ("d", 1, "new", "b", "new", ["x"], 1, 1, 1.0, 1),
        # A null key never matches, not even a prior null key.
        (None, 1, "new", "b", "new", ["x"], 1, 1, 1.0, 1),
    ], BATCH)


@pytest.fixture(scope="module")
def merged(spark, batch):
    prior = spark.createDataFrame([
        ("a", 1, True, "old", "p", "old", ["x", "z"], 3, 3, 5.0, 1),
        ("a", 2, True, "old", "p", "old", ["q"], 0, 9, 9.0, 9),
        ("b", 1, True, "old", "p", None, ["q"], 2, None, None, 4),
        ("d", 1, False, "old", "p", "old", ["q"], 0, 9, 9.0, 9),
        ("e", 1, True, "old", "p", "old", ["q"], 0, 9, 9.0, 9),
        (None, 1, True, "old", "p", "old", ["q"], 0, 9, 9.0, 9),
    ], PRIOR)
    p = Pipeline(spark=spark, sources={}, this_dfs={"m": prior})
    return p.merge_prior("m", batch, ["k1", "k2"], COMBINE, prior_filter=F.col("open"))


def _by_key(df):
    return {(r["k1"], r["k2"]): tuple(r) for r in df.collect()}


def test_rules_on_matched_rows(batch, merged):
    assert merged.columns == batch.columns
    got = _by_key(merged)
    # least/greatest skip nulls; the mean is count-weighted and the
    # count summed: (2.0 * 2 + 5.0 * 1) / 3.
    assert got[("a", 1)] == ("a", 1, "new", "b", "old", ["x", "y", "z"], 3, 5, 3.0, 3)
    # A null prior mean keeps the batch mean; the count is still summed.
    assert got[("b", 1)] == ("b", 1, "old", "b", "new", ["q"], 2, 7, 4.0, 5)


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
