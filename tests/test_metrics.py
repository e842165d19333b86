"""Semantic-layer tests: the 10 reference metrics
(semantic_models.yml:310-383) computed over the one-charger generated
fleet (conftest ``one_charger_fleet``), cross-checked against direct
DataFrame aggregation."""

from __future__ import annotations

import pytest

# Slow tier (r13 suite split): all-metrics sweep over the mart cache.
# Default runs exclude it (pytest.ini addopts); run with -m full.
pytestmark = pytest.mark.full
from pyspark.sql import functions as F

from kwwhat_spark.metrics import METRICS, query_metrics
from kwwhat_spark.models import Pipeline
from kwwhat_spark.sources.ocpp import load_ocpp_sources

ALL_METRICS = sorted(METRICS)


@pytest.fixture(scope="module")
def pipe(spark, one_charger_fleet):
    return Pipeline(spark=spark, sources=load_ocpp_sources(spark, one_charger_fleet))


@pytest.fixture(scope="module")
def totals(pipe):
    row = query_metrics(pipe, ALL_METRICS).first()
    return {m: row[m] for m in ALL_METRICS}


def test_all_ten_metrics_compute(totals):
    assert set(totals) == set(ALL_METRICS)
    for name, v in totals.items():
        assert v is not None, name


def test_simple_metrics_match_direct_aggregation(pipe, totals):
    v = pipe.ref("fact_visits")
    direct_total = v.count()
    assert totals["total_visits"] == direct_total
    assert totals["total_charge_attempts"] == (
        v.agg(F.sum("charge_attempt_count")).first()[0]
    )
    first = v.filter(
        F.col("is_successful") & (F.col("charge_attempt_count") == 1)
    ).count()
    troubled = v.filter(
        F.col("is_successful") & (F.col("charge_attempt_count") > 1)
    ).count()
    failed = v.filter(~F.coalesce(F.col("is_successful"), F.lit(False))).count()
    assert totals["first_attempt_success"] == first
    assert totals["troubled_success"] == troubled
    assert totals["failed_visits"] == failed
    up = pipe.ref("fact_uptime").agg(F.avg("uptime")).first()[0]
    assert totals["average_uptime"] == pytest.approx(up)


def test_ratio_metrics_are_ratios(totals):
    assert totals["first_attempt_success_rate"] == pytest.approx(
        totals["first_attempt_success"] / totals["total_visits"]
    )
    assert totals["troubled_success_rate"] == pytest.approx(
        totals["troubled_success"] / totals["total_visits"]
    )
    assert totals["failed_rate"] == pytest.approx(
        totals["failed_visits"] / totals["total_visits"]
    )
    assert totals["average_attempts_per_visit"] == pytest.approx(
        totals["total_charge_attempts"] / totals["total_visits"]
    )
    # The three outcome classes partition all visits.
    assert (
        totals["first_attempt_success"]
        + totals["troubled_success"]
        + totals["failed_visits"]
        == totals["total_visits"]
    )


def test_group_by_dimension_partitions_total(pipe, totals):
    sliced = query_metrics(
        pipe, ["total_visits", "failed_rate"], group_by=["is_successful"]
    ).collect()
    assert sum(r["total_visits"] for r in sliced) == totals["total_visits"]
    for r in sliced:
        # Within an is_successful slice the failed rate is degenerate.
        assert r["failed_rate"] == pytest.approx(0.0 if r["is_successful"] else 1.0)


def test_group_by_time_grain(pipe):
    daily = query_metrics(
        pipe, ["total_visits"], group_by=["visit_end_ts"]
    ).collect()
    assert len(daily) >= 10  # 14-day fleet
    assert all(r["visit_end_ts"] is not None for r in daily)


def test_where_filter(pipe, totals):
    only_success = query_metrics(
        pipe, ["total_visits"], where="is_successful"
    ).first()["total_visits"]
    assert only_success == totals["total_visits"] - totals["failed_visits"]
