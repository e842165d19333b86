"""Deterministic chat-BI routing layer over the semantic layer.

The reference ships an LLM agent for its chat-BI demo (reference
demo/chat-bi/nao_config.yaml, RULES.md, agent_instructions.md); its four
test specs (demo/chat-bi/tests/*.yml) are the reference's only
full-stack acceptance tests.  SURVEY §3.3 scopes the LLM itself out
("any SQL agent can sit on the catalog") — this module supplies the
piece such an agent calls into, made deterministic so it is testable
without a model:

- a typed ``BIQuery`` (aggregate columns + a time window), compiled by
  the semantic layer's ``_aggregate`` to one aggregate per touched mart
  (single shuffle per mart, whole-stage codegen; scalar partials
  combined with one-row cross joins, the repo's whitelisted pattern);
- ``route()``: a rule lexicon that parses a natural-language question
  into a ``BIQuery`` — entity counts ("how many ports…"), the ten
  semantic-layer metrics by label (metrics/semantic.py METRICS), and
  the RULES.md conventions: percentages rendered ``round(x*100, 2)``
  with ``_pct`` names, default window last 7 days unless the question
  says otherwise, unknown metrics rejected rather than invented;
- ``ask()``: route + compile + run, returning a DataFrame;
- ``at_a_glance()``: the RULES.md "metrics at a glance" summary shape
  (metric / value / status rows).

Parity: tests/test_bi_router.py replays each reference prompt through
``ask()`` and checks the values against DuckDB running the reference's
own SQL (loaded from the YAML at runtime) over the same mart data.
"""

from __future__ import annotations

import re
from dataclasses import dataclass
from functools import reduce

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from kwwhat_spark.metrics.semantic import (
    METRICS,
    SEMANTIC_MODELS,
    _aggregate,
    metric_sql,
)
from kwwhat_spark.models.base import Pipeline


class UnknownMetricError(KeyError):
    """RULES.md: "Do not make up metrics. If a metric is not defined in
    the semantic model, say so."  Raised when no lexicon rule matches."""


@dataclass(frozen=True)
class BIColumn:
    """One output column: an aggregate SQL expression over one mart."""

    name: str  # output alias
    model: str  # mart (Pipeline ref name)
    expr: str  # aggregate SQL over the mart's columns (a fraction if percent)
    percent: bool = False  # render round(expr * 100, 2) per RULES.md
    where: str | None = None  # extra predicate (e.g. decommissioned)
    time_col: str | None = None  # column the window filter applies to


@dataclass(frozen=True)
class BIQuery:
    columns: tuple[BIColumn, ...]
    window_days: int | None  # None = full history


# --- lexicon -----------------------------------------------------------

# Per-mart event-time column for window filtering (dims are slowly
# changing and never windowed).
_TIME_COLS = {
    "fact_uptime": "cast(date_id as timestamp)",
    "fact_charge_attempts": "charge_attempt_start_ts",
    "fact_visits": "visit_start_ts",
    "fact_interval_data": "interval_start_ts",
}

# "how many <entity>" → count over the entity's mart.  Keys are the
# phrases users say; count exprs mirror the reference answers
# (total_ports.yml counts DISTINCT port_id over dim_ports).
_ENTITIES = {
    "ports": ("dim_ports", "count(distinct port_id)", "total_ports"),
    "chargers": ("dim_chargers", "count(distinct charger_id)", "total_chargers"),
    "connectors": (
        "dim_connectors",
        "count(distinct connector_key)",
        "total_connectors",
    ),
    "locations": ("dim_locations", "count(distinct location_id)", "total_locations"),
    "drivers": ("dim_drivers", "count(distinct driver_key)", "total_drivers"),
    "visits": ("fact_visits", "count(visit_id)", "total_visits"),
    "charge attempts": (
        "fact_charge_attempts",
        "count(charge_attempt_id)",
        "total_charge_attempts",
    ),
    "transactions": (
        "fact_charge_attempts",
        "count(transaction_id)",
        "total_transactions",
    ),
}

# Metric phrases checked longest-first so "failed charge attempt rate"
# wins over "charge attempts".  Each maps to a builder below.
_METRIC_PHRASES: list[tuple[str, str]] = [
    ("failed charge attempt rate", "failed_attempt_rate"),
    ("failed attempt rate", "failed_attempt_rate"),
    ("first attempt success rate", "first_attempt_success_rate"),
    ("troubled success rate", "troubled_success_rate"),
    ("average attempts per visit", "average_attempts_per_visit"),
    ("attempts per visit", "average_attempts_per_visit"),
    ("failed visit rate", "failed_rate"),
    ("failed rate", "failed_rate"),
    ("energy transferred", "total_energy"),
    ("energy delivered", "total_energy"),
    ("uptime", "average_uptime"),
]

# Semantic-layer ratio metrics are fractions → percent columns.
_PERCENT_METRICS = {
    "first_attempt_success_rate",
    "troubled_success_rate",
    "failed_rate",
}


def _metric_column(key: str, single: bool) -> BIColumn:
    """Build the output column for a lexicon metric key.  `single` is
    True when the question asks for exactly one metric — the reference's
    convention names a lone uptime ask `overall_…` and a glance row
    `avg_…` (network_reliability_uptime.yml vs lately_snapshot.yml)."""
    if key == "average_uptime":
        name = "overall_uptime_pct" if single else "avg_uptime_pct"
        return BIColumn(
            name=name,
            model="fact_uptime",
            expr="avg(uptime)",
            percent=True,
            time_col=_TIME_COLS["fact_uptime"],
        )
    if key == "failed_attempt_rate":
        # lately_snapshot.yml: 1 - avg(is_successful) over the attempts
        # fact (attempt-weighted, unlike the visit-weighted failed_rate).
        return BIColumn(
            name="failed_attempt_rate_pct",
            model="fact_charge_attempts",
            expr="(1 - avg(case when is_successful then 1.0 else 0.0 end))",
            percent=True,
            time_col=_TIME_COLS["fact_charge_attempts"],
        )
    if key == "total_energy":
        sm = SEMANTIC_MODELS["charge_attempts"]
        return BIColumn(
            name="total_energy_transferred_kwh",
            model=sm.model,
            expr=sm.measures["energy_transferred_kwh_sum"].sql(),
            time_col=_TIME_COLS[sm.model],
        )
    if key in METRICS:
        model, sql = metric_sql(METRICS[key])
        return BIColumn(
            name=f"{key}_pct" if key in _PERCENT_METRICS else key,
            model=model,
            expr=sql,
            percent=key in _PERCENT_METRICS,
            time_col=_TIME_COLS.get(model),
        )
    raise UnknownMetricError(key)


_FULL_HISTORY = ("full history", "all time", "all-time", "entire history", "ever")


# Explicit time phrases the lexicon can't map to a day count.  The
# module's stance is reject-don't-invent: silently answering a "this
# quarter" question with the 7-day default is a wrong-window answer.
_UNPARSED_WINDOWS = (
    "yesterday", "today", "this week", "this month", "this quarter",
    "this year", "last quarter", "past quarter", "last year", "past year",
    "year to date", "month to date", "quarter to date", "ytd", "mtd", "qtd",
)


class UnsupportedWindowError(ValueError):
    """The question names a time window the router cannot express."""


def _window_days(q: str) -> int | None:
    """RULES.md: default window is last 7 days unless the user says
    otherwise.  "full history"-style phrases drop the window; explicit
    windows outside the lexicon raise instead of defaulting."""
    if any(p in q for p in _FULL_HISTORY):
        return None
    m = re.search(r"(?:last|past)\s+(\d+)\s+day", q)
    if m:
        return int(m.group(1))
    m = re.search(r"(?:last|past)\s+(\d+)\s+week", q)
    if m:
        return 7 * int(m.group(1))
    m = re.search(r"(?:last|past)\s+(\d+)\s+month", q)
    if m:
        return 30 * int(m.group(1))
    if "last week" in q or "past week" in q:
        return 7
    if "last month" in q or "past month" in q:
        return 30
    for phrase in _UNPARSED_WINDOWS:
        if re.search(rf"\b{re.escape(phrase)}\b", q):
            raise UnsupportedWindowError(
                f"time window {phrase!r} is not in the semantic model's "
                "lexicon; supported: last/past N days|weeks|months, "
                "full history"
            )
    return 7


def route(question: str) -> BIQuery:
    """Parse a question into a BIQuery.  Deterministic rule order:
    filtered entity counts, plain entity counts, then metric phrases
    longest-first (multiple metric phrases → a multi-column glance).
    No match → UnknownMetricError, never an invented metric."""
    q = question.lower()
    cols: list[BIColumn] = []

    if "how many" in q:
        for phrase, (mart, expr, alias) in _ENTITIES.items():
            if re.search(rf"\b{re.escape(phrase)}\b", q):
                if phrase == "ports" and "decommissioned" in q:
                    # decommissioned_ports_check.yml: ports whose charger
                    # has decommissioned_ts set — ports ⋈ chargers, the
                    # charger side is a broadcast-size dim.
                    cols.append(
                        BIColumn(
                            name="decommissioned_ports",
                            model="__ports_with_chargers",
                            expr="count(*)",
                            where="decommissioned_ts is not null",
                        )
                    )
                else:
                    cols.append(BIColumn(name=alias, model=mart, expr=expr))
                break
        if cols:
            # Entity stock counts are point-in-time, not windowed.
            return BIQuery(columns=tuple(cols), window_days=None)

    hits: list[tuple[int, str]] = []  # (position in question, metric key)
    consumed = q
    for phrase, key in _METRIC_PHRASES:
        pos = consumed.find(phrase)
        if pos >= 0 and key not in {k for _, k in hits}:
            hits.append((pos, key))
            consumed = consumed.replace(phrase, " " * len(phrase))
    # Output columns follow question order, not lexicon order.
    matched = [k for _, k in sorted(hits)]
    if not matched:
        raise UnknownMetricError(
            f"no metric defined in the semantic model matches: {question!r}"
        )
    single = len(matched) == 1
    cols = [_metric_column(k, single) for k in matched]
    # Parse the window only on the metric path: entity stock counts above
    # discard it (window_days=None), so 'How many ports do we have this
    # year?' must answer, not raise UnsupportedWindowError for a window
    # that would never be applied (round-3 advisor item).
    return BIQuery(columns=tuple(cols), window_days=_window_days(q))


# --- compile & run -----------------------------------------------------


def _mart_frame(pipe: Pipeline, model: str) -> DataFrame:
    if model == "__ports_with_chargers":
        return pipe.ref("dim_ports").join(
            F.broadcast(
                pipe.ref("dim_chargers").select("charger_id", "decommissioned_ts")
            ),
            "charger_id",
            "left",
        )
    return pipe.ref(model)


def _resolve_anchor(pipe: Pipeline, columns: tuple[BIColumn, ...]) -> str | None:
    """The window anchor: max event time across ALL marts the query
    touches (one union-all of per-mart max scans).  Resolved once and
    inlined as a literal so every predicate — current window and any
    shifted previous-period window — shares the same anchor."""
    anchors = []
    seen: set[str] = set()
    for c in columns:
        if c.time_col and c.model not in seen:
            seen.add(c.model)
            anchors.append(_mart_frame(pipe, c.model).selectExpr(f"max({c.time_col}) as t"))
    if not anchors:
        return None
    row = reduce(DataFrame.unionAll, anchors).agg(F.max("t")).first()
    return f"timestamp'{row[0]}'" if row[0] is not None else None


def _column_sql(c: BIColumn) -> str:
    if c.where and c.expr == "count(*)":
        # Push the predicate inside the aggregate so several filtered
        # counts can share one scan of the mart.
        sql = f"count(case when {c.where} then 1 end)"
    else:
        sql = c.expr
    # cast: avg over a decimal literal yields DECIMAL in Spark; the BI
    # contract is plain doubles.
    return f"cast(round(({sql}) * 100, 2) as double)" if c.percent else sql


def compile_query(pipe: Pipeline, bq: BIQuery, anchor: str | None = None) -> DataFrame:
    """One aggregate per touched mart (a single shuffle each), scalar
    partials combined via one-row cross joins, percent columns rendered
    round(x*100, 2).  Window anchor defaults to the max event time
    across the touched facts (deterministic on static test data); a live
    deployment passes wall-clock (or a pinned as-of time) via `anchor`,
    a SQL timestamp literal like "timestamp'2025-10-15 00:00:00'".  An
    explicit anchor also UPPER-bounds the current window (ts <= anchor):
    that is what "the last 7 days as of T" means, and it keeps the answer
    reproducible when the marts contain events after T."""
    # Group key includes the non-count WHERE so two differently-filtered
    # averages on one mart never share (and wrongly AND) a predicate.
    by_model: dict[tuple[str, str | None], list[BIColumn]] = {}
    for c in bq.columns:
        key = (c.model, c.where if c.expr != "count(*)" else None)
        by_model.setdefault(key, []).append(c)

    anchor_sql = None
    if bq.window_days is not None:
        anchor_sql = anchor if anchor is not None else _resolve_anchor(pipe, bq.columns)

    parts = []
    for (model, where), cols in by_model.items():
        wheres = [f"({where})"] if where else []
        tc = next((c.time_col for c in cols if c.time_col), None)
        if anchor_sql and tc:
            wheres.append(f"{tc} > {anchor_sql} - interval {bq.window_days} day")
            if anchor is not None:
                wheres.append(f"{tc} <= {anchor_sql}")
        parts.append((
            _mart_frame(pipe, model),
            " and ".join(wheres),
            [],
            [(c.name, _column_sql(c)) for c in cols],
        ))
    return _aggregate(parts).selectExpr(*[f"`{c.name}`" for c in bq.columns])


# --- pluggable agent interface -----------------------------------------
#
# The reference's chat-BI demo puts an LLM agent in front of the
# semantic layer (demo/chat-bi/nao_config.yaml:3-11 hands the agent the
# marts + RULES.md). The engine-side contract here is planner-agnostic:
# any agent (LLM or otherwise) receives `catalog()` — the
# machine-readable semantic model — and must return a typed BIQuery.
# Execution always flows through compile_query, so a planner can choose
# WHAT to compute but not HOW: no arbitrary SQL reaches the engine, and
# the RULES.md reject-don't-invent stance is enforced by construction
# (a BIQuery can only reference declared marts/metrics shapes).

#: (question, catalog) -> BIQuery. The default planner is `route`.
Planner = "Callable[[str, dict], BIQuery]"


def catalog() -> dict:
    """Machine-readable semantic catalog for an external planner: the
    metric lexicon (phrases → metric, mart, percent/window semantics),
    countable entities, and the window rules. This is what the
    reference's nao_config.yaml + RULES.md convey to its agent, as data."""
    metrics = {}
    for phrase, key in _METRIC_PHRASES:
        if key not in metrics:
            col = _metric_column(key, single=True)
            metrics[key] = {
                "phrases": [],
                "percent": col.percent,
                "column": col.name,
                "model": col.model,
                "windowed": col.time_col is not None,
            }
        metrics[key]["phrases"].append(phrase)
    return {
        "metrics": metrics,
        "entities": {
            phrase: {"model": mart, "column": alias}
            for phrase, (mart, _, alias) in _ENTITIES.items()
        },
        "windows": {
            "default_days": 7,
            "full_history_phrases": list(_FULL_HISTORY),
            "parsed": "last/past N day(s)|week(s)|month(s)",
            "rejected": list(_UNPARSED_WINDOWS),
        },
    }


def ask(pipe: Pipeline, question: str, planner=None, anchor: str | None = None) -> DataFrame:
    """Plan a question and run it. The default planner is the
    deterministic lexicon router (`route`) — the reference's four chat-BI
    prompts replay through it without a model; an LLM agent plugs in as
    `planner(question, catalog()) -> BIQuery` and inherits the same
    typed compile path."""
    if planner is None:
        bq = route(question)
    else:
        bq = planner(question, catalog())
        if not isinstance(bq, BIQuery):
            raise TypeError(
                f"planner must return a BIQuery, got {type(bq).__name__}"
            )
    return compile_query(pipe, bq, anchor=anchor)


def at_a_glance(df: DataFrame) -> DataFrame:
    """Melt a one-row metric result into the RULES.md "metrics at a
    glance" table: (metric, value, status).  status: ok when the value
    is non-null, missing otherwise — a live agent would thread targets
    through here for green/amber/red."""
    cols = df.columns
    pairs = ", ".join(f"'{c}', cast(`{c}` as double)" for c in cols)
    melted = df.selectExpr(f"stack({len(cols)}, {pairs}) as (metric, value)")
    return melted.select(
        "metric",
        "value",
        F.when(F.col("value").isNotNull(), F.lit("ok"))
        .otherwise(F.lit("missing"))
        .alias("status"),
    )


def period_over_period(
    pipe: Pipeline, question: str, anchor: str | None = None
) -> DataFrame:
    """RULES.md: "Always include period-over-period change in percentage
    points (pp)."  Runs the question's windowed metrics for the current
    window and the immediately preceding one, returning one row per
    metric: (metric, value, previous_value, delta_pp).  Full-history
    questions have no previous period → single-window result with null
    deltas.  `anchor` pins both windows to an explicit as-of timestamp
    literal (see compile_query) — required for reproducible comparisons
    when any touched mart extends to wall-clock."""
    bq = route(question)
    cur = compile_query(pipe, bq, anchor=anchor)
    if bq.window_days is None:
        g = at_a_glance(cur)
        return g.select(
            "metric",
            "value",
            F.lit(None).cast("double").alias("previous_value"),
            F.lit(None).cast("double").alias("delta_pp"),
        )
    # Previous period = [2w ago, w ago), recomputed with an explicit
    # shifted filter (works for averages too, not just additive sums).
    # The anchor is resolved ONCE across all touched marts — the same
    # union-max compile_query uses for the current window — so the two
    # periods are adjacent by construction even when marts have
    # different max timestamps.
    anchor_sql = anchor if anchor is not None else _resolve_anchor(pipe, bq.columns)
    prev = compile_query(
        pipe,
        BIQuery(
            columns=tuple(
                BIColumn(
                    name=c.name,
                    model=c.model,
                    expr=c.expr,
                    percent=c.percent,
                    where=_shifted_where(c, bq.window_days, anchor_sql),
                    time_col=None,  # window handled by the shifted predicate
                )
                for c in bq.columns
            ),
            window_days=None,
        ),
    )
    g_cur = at_a_glance(cur).select("metric", "value")
    g_prev = at_a_glance(prev).select(
        "metric", F.col("value").alias("previous_value")
    )
    return (
        g_cur.join(g_prev, "metric", "left")
        .select(
            "metric",
            "value",
            "previous_value",
            F.round(F.col("value") - F.col("previous_value"), 2).alias("delta_pp"),
        )
    )


def _shifted_where(c: BIColumn, days: int, anchor_sql: str | None) -> str | None:
    """Previous-window predicate anchored at the GLOBAL anchor literal
    (the caller resolves it via _resolve_anchor) — per-mart max anchors
    would misalign the two periods for multi-mart questions."""
    if not c.time_col or anchor_sql is None:
        return c.where
    shifted = (
        f"{c.time_col} > {anchor_sql} - interval {2 * days} day"
        f" and {c.time_col} <= {anchor_sql} - interval {days} day"
    )
    return f"({c.where}) and ({shifted})" if c.where else shifted
