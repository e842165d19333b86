"""The one metric compile path that chat-BI and ``query_metrics`` share,
run over a few hand-built mart rows (no DAG build)."""

from __future__ import annotations

import datetime as dt

import pytest

from kwwhat_spark import bi
from kwwhat_spark.metrics import METRICS, query_metrics
from kwwhat_spark.metrics.semantic import Metric, metric_sql
from kwwhat_spark.models import Pipeline

T0 = dt.datetime(2025, 10, 1)


@pytest.fixture(scope="module")
def pipe(spark):
    # Ten visits a day apart; visits 0, 3, 6, 9 failed, odd ones took
    # two attempts.
    visits = spark.createDataFrame(
        [(f"v{i}", i % 3 != 0, 1 + i % 2, T0 + dt.timedelta(days=i), 10.0 * i)
         for i in range(10)],
        "visit_id string, is_successful boolean, charge_attempt_count int,"
        " visit_start_ts timestamp, total_energy_transferred_kwh double",
    )
    attempts = spark.createDataFrame(
        [(f"a{i}", i % 2 == 0, T0 + dt.timedelta(days=i), f"t{i}", 1.5)
         for i in range(10)],
        "charge_attempt_id string, is_successful boolean,"
        " charge_attempt_start_ts timestamp, transaction_id string,"
        " energy_transferred_kwh double",
    )
    return Pipeline(spark=spark, sources={},
                    overrides={"fact_visits": visits, "fact_charge_attempts": attempts})


def test_compile_leaves_no_session_views(spark, pipe):
    anchor = "timestamp'2025-10-10 00:00:00'"
    failed = bi.ask(pipe, "What is the failed visit rate?", anchor=anchor).first()
    # Window (10-03, 10-10]: visits 3..9, of which 3, 6 and 9 failed.
    assert failed["failed_rate_pct"] == 42.86
    pop = {r["metric"]: r for r in bi.period_over_period(
        pipe, "Failed charge attempt rate and first attempt success rate, last 7 days"
    ).collect()}
    # Anchor = the latest event (10-10): rows 3..9 are the window, rows
    # 0..2 the previous one; even attempts succeed.
    assert pop["failed_attempt_rate_pct"]["value"] == 57.14
    assert pop["failed_attempt_rate_pct"]["previous_value"] == 33.33
    # Visits 4 and 8 of 3..9 succeed at the first attempt.
    assert pop["first_attempt_success_rate_pct"]["value"] == 28.57
    by_outcome = {r["is_successful"]: r for r in query_metrics(
        pipe, ["total_visits", "failed_rate"], group_by=["is_successful"]).collect()}
    assert by_outcome[False]["total_visits"] == 4.0
    assert by_outcome[True]["failed_rate"] == 0.0
    views = [t.name for t in spark.catalog.listTables()
             if t.name.startswith(("__bi_", "__metric_"))]
    assert views == []


def test_ratio_across_marts_is_refused(monkeypatch, pipe):
    monkeypatch.setitem(METRICS, "visits_per_uptime", Metric(
        "visits_per_uptime", "ratio", numerator="total_visits",
        denominator="average_uptime"))
    with pytest.raises(ValueError, match="spans models fact_visits/fact_uptime"):
        query_metrics(pipe, ["visits_per_uptime"])


def test_metric_sql_renders_ratios_over_one_mart():
    assert metric_sql(METRICS["total_visits"]) == ("fact_visits", "count(visit_id)")
    assert metric_sql(METRICS["failed_rate"]) == (
        "fact_visits",
        "(cast(count(case when is_successful then null else visit_id end) as double)"
        " / nullif(count(visit_id), 0))",
    )
