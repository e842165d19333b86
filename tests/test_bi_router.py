"""Deterministic chat-BI router acceptance: replay the reference's four
NL test prompts (demo/chat-bi/tests/*.yml) through kwwhat_spark.bi.ask
and check every value against DuckDB running the reference's own SQL
over the same mart data — the full-stack loop the reference only covers
via its LLM agent, verified here without one.  The marts come from the
one-charger generated fleet (conftest ``one_charger_fleet``); the
reference-prompt replays skip when the reference YAML is absent."""

from __future__ import annotations

import re
from pathlib import Path

import duckdb
import pytest

# Slow tier (r13 suite split): BI routing over the mart cache (heavy session fixture).
# Default runs exclude it (pytest.ini addopts); run with -m full.
pytestmark = pytest.mark.full
import yaml
from pyspark.sql import functions as F

from kwwhat_spark import bi
from kwwhat_spark.models import Pipeline
from kwwhat_spark.sources.ocpp import load_ocpp_sources

BI_DIR = Path("/root/reference/demo/chat-bi/tests")
BI_TESTS = {
    t["name"]: (t["prompt"], re.sub(r"analytics\.ANALYTICS\.", "", t["sql"]))
    for t in (yaml.safe_load(p.read_text()) for p in sorted(BI_DIR.glob("*.yml")))
}
needs_reference_yaml = pytest.mark.skipif(
    not BI_DIR.is_dir(), reason=f"reference chat-BI test YAML ({BI_DIR}) is absent"
)


@pytest.fixture(scope="module")
def bi_env(spark, one_charger_fleet):
    pipe = Pipeline(spark=spark, sources=load_ocpp_sources(spark, one_charger_fleet))
    con = duckdb.connect()
    for name in ("dim_ports", "dim_chargers", "fact_uptime", "fact_charge_attempts"):
        con.register(name, pipe.ref(name).toPandas())
    return pipe, con


@needs_reference_yaml
@pytest.mark.parametrize("name", sorted(BI_TESTS))
def test_reference_prompt_routed(bi_env, name):
    """ask(prompt) must produce the same values (positionally) as the
    reference SQL; column names follow the module's documented naming
    convention, asserted per-prompt below."""
    pipe, con = bi_env
    prompt, sql = BI_TESTS[name]
    got = bi.ask(pipe, prompt).first()
    want = con.execute(sql).fetchone()
    assert len(got) == len(want), (name, got, want)
    for g, w in zip(got, want):
        if isinstance(g, float) or isinstance(w, float):
            assert float(g) == pytest.approx(float(w), abs=1e-6), (name, got, want)
        else:
            assert g == w, (name, got, want)


@needs_reference_yaml
def test_reference_prompt_column_names(bi_env):
    pipe, _ = bi_env
    assert bi.ask(pipe, BI_TESTS["total_ports"][0]).columns == ["total_ports"]
    assert bi.ask(pipe, BI_TESTS["network_reliability_uptime"][0]).columns == [
        "overall_uptime_pct"
    ]
    assert bi.ask(pipe, BI_TESTS["decommissioned_ports_check"][0]).columns == [
        "decommissioned_ports"
    ]
    assert bi.ask(pipe, BI_TESTS["lately_snapshot"][0]).columns == [
        "avg_uptime_pct",
        "failed_attempt_rate_pct",
    ]


def test_unknown_metric_refused():
    with pytest.raises(bi.UnknownMetricError):
        bi.route("What is our blended gross margin?")


def test_window_parsing():
    assert bi.route("uptime for the full history").window_days is None
    assert bi.route("uptime over all time").window_days is None
    assert bi.route("what is our uptime").window_days == 7  # RULES.md default
    assert bi.route("uptime for the last 30 days").window_days == 30
    assert bi.route("uptime last 2 weeks").window_days == 14
    assert bi.route("uptime over the past month").window_days == 30


def test_entity_counts_not_windowed():
    q = bi.route("How many chargers do we have?")
    assert q.window_days is None
    assert q.columns[0].name == "total_chargers"


def test_windowed_uptime_matches_hand_filter(bi_env, spark):
    """Default 7-day window == hand-written filter anchored at the mart's
    max day (deterministic anchor documented in compile_query)."""
    pipe, con = bi_env
    got = bi.ask(pipe, "What is our uptime?").first()[0]
    want = con.execute(
        """
        select round(avg(uptime) * 100, 2) from fact_uptime
        where cast(date_id as timestamp) >
              (select max(cast(date_id as timestamp)) from fact_uptime)
              - interval 7 day
        """
    ).fetchone()[0]
    assert float(got) == pytest.approx(float(want), abs=1e-6)


def test_semantic_ratio_metric_routes(bi_env):
    """A semantic-layer ratio metric (first_attempt_success_rate over
    fact_visits) routes, renders as a percentage, and matches the
    measure-level SQL."""
    pipe, con = bi_env
    con2 = duckdb.connect()
    con2.register("fact_visits", pipe.ref("fact_visits").toPandas())
    got = bi.ask(
        pipe, "What is the first attempt success rate for the full history?"
    )
    assert got.columns == ["first_attempt_success_rate_pct"]
    want = con2.execute(
        """
        select round(100 * cast(
            sum(case when is_successful and charge_attempt_count = 1
                then 1 else 0 end) as double) / nullif(count(visit_id), 0), 2)
        from fact_visits
        """
    ).fetchone()[0]
    assert float(got.first()[0]) == pytest.approx(float(want), abs=1e-6)


@needs_reference_yaml
def test_at_a_glance_shape(bi_env):
    pipe, _ = bi_env
    df = bi.ask(pipe, BI_TESTS["lately_snapshot"][0])
    glance = bi.at_a_glance(df)
    rows = {r["metric"]: r for r in glance.collect()}
    assert set(rows) == {"avg_uptime_pct", "failed_attempt_rate_pct"}
    assert all(r["status"] == "ok" for r in rows.values())


def test_period_over_period_shape(bi_env):
    pipe, _ = bi_env
    pop = bi.period_over_period(pipe, "What is our uptime?")
    row = pop.first()
    assert pop.columns == ["metric", "value", "previous_value", "delta_pp"]
    assert row["metric"] == "overall_uptime_pct"
    # Full-history questions carry no previous period.
    full = bi.period_over_period(pipe, "uptime for the full history").first()
    assert full["previous_value"] is None and full["delta_pp"] is None


def test_window_rejects_unparsed_phrases():
    # reject-don't-invent: an explicit window outside the lexicon must
    # not silently fall back to the 7-day default.
    for q in ("uptime this quarter", "uptime yesterday", "uptime last year"):
        with pytest.raises(bi.UnsupportedWindowError):
            bi.route(q)
    assert bi.route("uptime for the last 3 months").window_days == 90
    assert bi.route("uptime over the past 2 months").window_days == 60


def test_explicit_anchor_pins_both_windows(bi_env):
    """An explicit as-of anchor must (a) replace the resolved max-ts
    anchor, (b) upper-bound the current window, and (c) anchor the
    previous window at the same literal — recompute both by hand."""
    pipe, _ = bi_env
    anchor = "timestamp'2025-10-12 00:00:00'"
    pop = {
        r["metric"]: r
        for r in bi.period_over_period(
            pipe, "What is our uptime?", anchor=anchor
        ).collect()
    }
    row = pop["overall_uptime_pct"]
    fu = pipe.ref("fact_uptime")
    ts = F.col("date_id").cast("timestamp")
    lit = F.expr("timestamp'2025-10-12 00:00:00'")
    cur = fu.filter(
        (ts > lit - F.expr("interval 7 day")) & (ts <= lit)
    ).agg(F.round(F.avg("uptime") * 100, 2)).first()[0]
    prev = fu.filter(
        (ts > lit - F.expr("interval 14 day")) & (ts <= lit - F.expr("interval 7 day"))
    ).agg(F.round(F.avg("uptime") * 100, 2)).first()[0]
    assert float(row["value"]) == pytest.approx(float(cur), abs=1e-9)
    assert float(row["previous_value"]) == pytest.approx(float(prev), abs=1e-9)
    # Without an anchor the current window has no upper bound, so a
    # different (resolved) anchor generally yields a different answer —
    # just assert the call path still works and returns the same metric.
    free = bi.period_over_period(pipe, "What is our uptime?").first()
    assert free["metric"] == "overall_uptime_pct"


def test_entity_counts_ignore_unparsed_windows():
    # Point-in-time entity counts discard the window entirely, so a
    # rejected phrase in the question must not raise (round-3 advisor):
    # the window would never be applied.
    for q in (
        "How many ports do we have today?",
        "How many chargers did we add this year?",
    ):
        got = bi.route(q)
        assert got.window_days is None and len(got.columns) == 1
    # ...but the same phrases still reject on the metric path.
    with pytest.raises(bi.UnsupportedWindowError):
        bi.route("uptime this year")


def test_shifted_where_uses_global_anchor():
    """period_over_period must anchor the previous window at the same
    literal for every mart (per-mart max anchors misalign the periods
    for multi-mart questions)."""
    c = bi.BIColumn(
        name="x", model="fact_uptime", expr="avg(uptime_pct)",
        time_col="day_ts",
    )
    w = bi._shifted_where(c, 7, "timestamp'2024-05-01 00:00:00'")
    assert w == (
        "day_ts > timestamp'2024-05-01 00:00:00' - interval 14 day"
        " and day_ts <= timestamp'2024-05-01 00:00:00' - interval 7 day"
    )
    # no per-mart max subquery anywhere in the predicate
    assert "select" not in w.lower()
    # no anchor (empty marts) -> unshifted where passthrough
    assert bi._shifted_where(c, 7, None) is None


def test_period_over_period_periods_adjacent(bi_env):
    """Current and previous windows must partition [anchor-14d, anchor]:
    recompute both by hand from the global anchor and compare."""
    pipe, _ = bi_env
    pop = {r["metric"]: r for r in bi.period_over_period(pipe, "What is our uptime?").collect()}
    bq = bi.route("What is our uptime?")
    anchor = bi._resolve_anchor(pipe, bq.columns)
    fu = pipe.ref("fact_uptime")
    tc = "cast(date_id as timestamp)"
    v = "cast(round(avg(uptime) * 100, 2) as double) v"
    cur = fu.where(f"{tc} > {anchor} - interval 7 day").selectExpr(v).first()["v"]
    prev = fu.where(
        f"{tc} > {anchor} - interval 14 day and {tc} <= {anchor} - interval 7 day"
    ).selectExpr(v).first()["v"]
    row = pop["overall_uptime_pct"]
    assert row["value"] == pytest.approx(cur, abs=1e-6)
    assert row["previous_value"] == pytest.approx(prev, abs=1e-6)


def test_catalog_is_planner_consumable():
    cat = bi.catalog()
    assert "uptime" in cat["metrics"]["average_uptime"]["phrases"]
    assert cat["metrics"]["failed_attempt_rate"]["percent"] is True
    assert cat["entities"]["ports"] == {"model": "dim_ports", "column": "total_ports"}
    assert cat["windows"]["default_days"] == 7
    assert "this quarter" in cat["windows"]["rejected"]


def test_pluggable_planner_runs_through_typed_compile(bi_env):
    """An external planner (stand-in for the reference's LLM agent) picks
    metrics from the catalog and returns a BIQuery; execution must equal
    the deterministic router's for the same plan, and non-BIQuery returns
    (e.g. raw SQL strings) are refused."""
    pipe, _ = bi_env

    def fake_agent(question, cat):
        assert "metrics" in cat  # the planner sees the semantic catalog
        key = "average_uptime" if "up" in question else "failed_attempt_rate"
        col = bi._metric_column(key, single=True)
        return bi.BIQuery(columns=(col,), window_days=None)

    got = bi.ask(pipe, "how are we doing on upness?", planner=fake_agent).first()
    want = bi.ask(pipe, "uptime for the full history").first()
    assert got["overall_uptime_pct"] == want["overall_uptime_pct"]

    with pytest.raises(TypeError, match="BIQuery"):
        bi.ask(pipe, "q", planner=lambda q, c: "SELECT 1")
