"""Semantic layer: the reference's MetricFlow models/metrics re-expressed
as a Spark SQL rendering registry (reference models/semantic/
semantic_models.yml; SURVEY §3.3).

6 semantic models (entities / dimensions / measures over marts,
semantic_models.yml:3-309) and 10 metrics (semantic_models.yml:310-383).
`metric_sql()` renders a metric to one aggregate SQL expression over its
mart, and `_aggregate()` runs one filtered, grouped aggregate per mart
and joins the per-mart results. `query_metrics()` (the MetricFlow-
equivalent entry point) and chat-BI (`kwwhat_spark.bi`) both compile
through these two: measures are plain count/sum/avg/sum_boolean
aggregates, so every metric stays inside whole-stage codegen, and a
metric query is one shuffle per mart regardless of metric count.
"""

from __future__ import annotations

from dataclasses import dataclass, field
from functools import reduce

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from kwwhat_spark.models.base import Pipeline


@dataclass(frozen=True)
class Dimension:
    name: str
    expr: str | None = None  # SQL over the mart's columns; default = name
    kind: str = "categorical"  # or "time"
    grain: str = "day"

    def sql(self) -> str:
        base = self.expr or self.name
        if self.kind == "time":
            return f"date_trunc('{self.grain}', {base})"
        return f"({base})"


@dataclass(frozen=True)
class Measure:
    name: str
    agg: str  # count | sum | average | sum_boolean
    expr: str

    def sql(self) -> str:
        if self.agg == "count":
            return f"count({self.expr})"
        if self.agg == "sum":
            return f"sum({self.expr})"
        if self.agg == "average":
            return f"avg({self.expr})"
        if self.agg == "sum_boolean":
            return f"sum(case when {self.expr} then 1 else 0 end)"
        raise ValueError(f"unknown agg {self.agg}")


@dataclass(frozen=True)
class SemanticModel:
    name: str
    model: str  # mart name (Pipeline ref)
    entities: dict[str, str] = field(default_factory=dict)  # name -> expr
    dimensions: dict[str, Dimension] = field(default_factory=dict)
    measures: dict[str, Measure] = field(default_factory=dict)


@dataclass(frozen=True)
class Metric:
    name: str
    type: str  # simple | ratio
    measure: str | None = None  # simple
    numerator: str | None = None  # ratio (metric names)
    denominator: str | None = None
    label: str = ""


def _dims(*ds: Dimension) -> dict[str, Dimension]:
    return {d.name: d for d in ds}


def _measures(*ms: Measure) -> dict[str, Measure]:
    return {m.name: m for m in ms}


_SUCCESS_FIRST = "is_successful and charge_attempt_count = 1"
_SUCCESS_TROUBLED = "is_successful and charge_attempt_count > 1"

# semantic_models.yml:3-46 (chargers, ports, connectors).
SEMANTIC_MODELS: dict[str, SemanticModel] = {
    sm.name: sm
    for sm in [
        SemanticModel(
            name="chargers",
            model="dim_chargers",
            entities={"charger": "charger_id"},
            dimensions=_dims(
                Dimension("is_commissioned"), Dimension("location_id")
            ),
        ),
        SemanticModel(
            name="ports",
            model="dim_ports",
            entities={"port": "port_key"},
            dimensions=_dims(Dimension("charger_id"), Dimension("location_id")),
        ),
        SemanticModel(
            name="connectors",
            model="dim_connectors",
            entities={"connector": "connector_key"},
            dimensions=_dims(
                Dimension("connector_type"),
                Dimension("latest_status"),
                Dimension("charger_id"),
                Dimension("location_id"),
            ),
        ),
        # semantic_models.yml:48-148 (visits).
        SemanticModel(
            name="visits",
            model="fact_visits",
            entities={
                "visit": "visit_id",
                "charge_attempt": "last_charge_attempt_id",
                "driver": "driver_key",
                "location": "location_key",
                "port": "last_port_key",
            },
            dimensions=_dims(
                Dimension("visit_end_ts", kind="time"),
                Dimension("visit_start_ts", kind="time"),
                Dimension("first_charger_id"),
                Dimension("last_charger_id"),
                Dimension(
                    "is_first_attempt_success",
                    expr=f"case when {_SUCCESS_FIRST} then true else false end",
                ),
                Dimension(
                    "is_troubled_success",
                    expr=f"case when {_SUCCESS_TROUBLED} then true else false end",
                ),
                Dimension("is_successful"),
                Dimension(
                    "is_failed",
                    expr="case when is_successful then false else true end",
                ),
            ),
            measures=_measures(
                Measure("visits_count", "count", "visit_id"),
                Measure(
                    "energy_per_visit_kwh_average",
                    "average",
                    "total_energy_transferred_kwh",
                ),
                Measure("charge_attempts_count", "sum", "charge_attempt_count"),
                Measure(
                    "successful_visits_count",
                    "count",
                    "case when is_successful then visit_id end",
                ),
                Measure("visit_success_count", "sum_boolean", "is_successful"),
                Measure(
                    "visit_duration_minutes_average",
                    "average",
                    "visit_duration_minutes",
                ),
                Measure(
                    "troubled_success_visits_count",
                    "count",
                    f"case when {_SUCCESS_TROUBLED} then visit_id end",
                ),
                Measure(
                    "troubled_success_count",
                    "sum_boolean",
                    f"case when {_SUCCESS_TROUBLED} then true else false end",
                ),
                Measure("charge_attempt_success_count", "sum_boolean", "is_successful"),
                Measure(
                    "first_attempt_success_visits_count",
                    "count",
                    f"case when {_SUCCESS_FIRST} then visit_id end",
                ),
                Measure(
                    "first_attempt_success_count",
                    "sum_boolean",
                    f"case when {_SUCCESS_FIRST} then true else false end",
                ),
                Measure(
                    "troubled_first_attempt_visits_count",
                    "count",
                    f"case when {_SUCCESS_TROUBLED} then visit_id end",
                ),
                Measure(
                    "failed_visits_count",
                    "count",
                    "case when is_successful then null else visit_id end",
                ),
            ),
        ),
        # semantic_models.yml:150-232 (charge_attempts).
        SemanticModel(
            name="charge_attempts",
            model="fact_charge_attempts",
            entities={
                "charge_attempt": "charge_attempt_id",
                "charger": "charger_id",
                "port": "port_key",
                "location": "location_key",
            },
            dimensions=_dims(
                Dimension("charge_attempt_start_ts", kind="time"),
                Dimension("charge_attempt_stop_ts", kind="time"),
                Dimension("is_successful"),
                Dimension("next_status"),
                Dimension("transaction_stop_reason"),
                Dimension("charger_id"),
                Dimension("connector_id"),
                Dimension("status"),
            ),
            measures=_measures(
                Measure("attempts_count", "count", "charge_attempt_id"),
                Measure(
                    "successful_attempts_count",
                    "count",
                    "case when is_successful then charge_attempt_id end",
                ),
                Measure("attempt_success_rate", "sum_boolean", "is_successful"),
                Measure("energy_transferred_kwh_sum", "sum", "energy_transferred_kwh"),
                Measure(
                    "average_energy_per_attempt_kwh", "average", "energy_transferred_kwh"
                ),
                Measure(
                    "average_energy_per_successful_attempt",
                    "average",
                    "case when is_successful then energy_transferred_kwh end",
                ),
                Measure(
                    "failed_attempts_count",
                    "count",
                    "case when is_successful then null else charge_attempt_id end",
                ),
                Measure(
                    "attempts_with_transaction_count",
                    "count",
                    "case when transaction_id is not null then charge_attempt_id end",
                ),
                Measure(
                    "transaction_success_rate",
                    "average",
                    "case when transaction_id is not null"
                    " then cast(is_successful as integer) else null end",
                ),
            ),
        ),
        # semantic_models.yml:234-270 (drivers).
        SemanticModel(
            name="drivers",
            model="dim_drivers",
            entities={"driver": "driver_key"},
            dimensions=_dims(
                Dimension("id_tag"),
                Dimension("is_known_driver"),
                Dimension("first_authorization_status"),
                Dimension("latest_authorization_status"),
                Dimension("first_seen_ts", kind="time"),
                Dimension("last_seen_ts", kind="time"),
            ),
            measures=_measures(
                Measure("drivers_count", "count", "driver_key"),
                Measure("known_drivers_count", "sum_boolean", "is_known_driver"),
            ),
        ),
        # semantic_models.yml:272-298 (uptime).
        SemanticModel(
            name="uptime",
            model="fact_uptime",
            entities={
                "uptime_record": "uptime_id",
                "charger": "charger_id",
                "port": "port_key",
                "location": "location_key",
            },
            dimensions=_dims(
                Dimension("date_id", kind="time"),
                Dimension("charger_id"),
                Dimension("port_id"),
            ),
            measures=_measures(Measure("uptime_average", "average", "uptime")),
        ),
        # semantic_models.yml:299-309 (locations).
        SemanticModel(
            name="locations",
            model="dim_locations",
            entities={"location": "location_key"},
            dimensions=_dims(Dimension("location_id")),
        ),
    ]
}

# semantic_models.yml:310-383.
METRICS: dict[str, Metric] = {
    m.name: m
    for m in [
        Metric("total_visits", "simple", measure="visits_count", label="Visits count"),
        Metric(
            "total_charge_attempts",
            "simple",
            measure="charge_attempts_count",
            label="Total charge attempts",
        ),
        Metric(
            "average_attempts_per_visit",
            "ratio",
            numerator="total_charge_attempts",
            denominator="total_visits",
            label="Average attempts per visit",
        ),
        Metric(
            "first_attempt_success",
            "simple",
            measure="first_attempt_success_count",
            label="First attempt success count",
        ),
        Metric(
            "troubled_success",
            "simple",
            measure="troubled_success_count",
            label="Troubled success count",
        ),
        Metric(
            "failed_visits",
            "simple",
            measure="failed_visits_count",
            label="Failed visits count",
        ),
        Metric(
            "first_attempt_success_rate",
            "ratio",
            numerator="first_attempt_success",
            denominator="total_visits",
            label="First attempt success rate",
        ),
        Metric(
            "troubled_success_rate",
            "ratio",
            numerator="troubled_success",
            denominator="total_visits",
            label="Troubled success rate",
        ),
        Metric(
            "failed_rate",
            "ratio",
            numerator="failed_visits",
            denominator="total_visits",
            label="Failed rate",
        ),
        Metric(
            "average_uptime", "simple", measure="uptime_average", label="Average uptime"
        ),
    ]
}


def _measure_model(measure_name: str) -> SemanticModel:
    for sm in SEMANTIC_MODELS.values():
        if measure_name in sm.measures:
            return sm
    raise KeyError(f"measure {measure_name} not declared in any semantic model")


def _base_measures(metric: Metric) -> list[str]:
    if metric.type == "simple":
        return [metric.measure]
    out = []
    for sub in (metric.numerator, metric.denominator):
        out.extend(_base_measures(METRICS[sub]))
    return out


def metric_sql(metric: Metric) -> tuple[str, str]:
    """(mart, aggregate SQL) for a metric: a simple metric is its
    measure's SQL, a ratio is ``cast(num as double) / nullif(den, 0)``
    over the one mart both sides sit on.  Every declared ratio's measures
    live on one semantic model; a ratio across two is refused."""
    if metric.type == "simple":
        sm = _measure_model(metric.measure)
        return sm.model, sm.measures[metric.measure].sql()
    num_model, num_sql = metric_sql(METRICS[metric.numerator])
    den_model, den_sql = metric_sql(METRICS[metric.denominator])
    if num_model != den_model:
        raise ValueError(
            f"ratio metric {metric.name} spans models {num_model}/{den_model}; "
            "a ratio's numerator and denominator must share one mart"
        )
    return num_model, f"(cast({num_sql} as double) / nullif({den_sql}, 0))"


def _aggregate(parts: list[tuple]) -> DataFrame:
    """One filtered, grouped aggregate per part (a single shuffle each),
    joined on the dimension aliases (full outer), or cross-joined as
    one-row partials when there are none.  A part is one mart's share of
    the query: (frame, filter SQL or None, [(dimension alias, SQL)],
    [(column alias, aggregate SQL)]).  Catalyst folds equal aggregate
    expressions, so columns repeating a measure cost nothing."""
    frames = []
    for frame, where, dims, cols in parts:
        if where:
            frame = frame.where(where)
        frames.append(frame.groupBy(*[F.expr(sql).alias(n) for n, sql in dims])
                      .agg(*[F.expr(sql).alias(n) for n, sql in cols]))
    keys = [n for n, _ in parts[0][2]]
    return reduce(
        lambda a, b: a.join(b, keys, "full_outer") if keys else a.crossJoin(b), frames)


def query_metrics(
    pipe: Pipeline,
    metrics: list[str],
    group_by: list[str] | None = None,
    where: str | None = None,
) -> DataFrame:
    """MetricFlow-equivalent metric query: returns one row per group_by
    combination with one double column per requested metric.

    group_by names must be dimensions declared on every semantic model the
    requested metrics touch (MetricFlow would join through entities; the
    reference's marts are denormalized enough that shared dimension names
    cover its documented metric queries). `where` is a SQL predicate over
    the base mart's columns, applied before aggregation.
    """
    group_by = group_by or []
    by_mart: dict[str, dict[str, str]] = {}
    for name in metrics:
        mart, sql = metric_sql(METRICS[name])
        by_mart.setdefault(mart, {})[name] = f"cast({sql} as double)"
    parts = []
    for mart, cols in by_mart.items():
        sm = next(s for s in SEMANTIC_MODELS.values() if s.model == mart)
        missing = [d for d in group_by if d not in sm.dimensions]
        if missing:
            raise KeyError(f"dimension {missing[0]} not on semantic model {sm.name}")
        dims = [(d, sm.dimensions[d].sql()) for d in group_by]
        parts.append((pipe.ref(mart), where, dims, list(cols.items())))
    return _aggregate(parts).select(*group_by, *metrics)
