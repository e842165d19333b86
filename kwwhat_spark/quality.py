"""Declarative data-quality runner — the Spark equivalent of the
reference's dbt schema tests (SURVEY §5.1: not_null, unique,
accepted_values, dbt_utils.unique_combination_of_columns,
dbt_utils.expression_is_true, dbt_utils.accepted_range, relationships,
plus source freshness, staging.yml:14-18).

Execution shape (scale-aware): all row-predicate checks for a model are
fused into ONE aggregation pass over the table (a single scan computes
every not_null / accepted_values / expression / range violation count);
uniqueness checks are one groupBy per declared key; referential checks
are one left_anti join per (parent, field) — broadcast when the parent is
a dim. Null semantics follow dbt exactly: predicate checks skip rows
where the predicate evaluates to NULL, `unique` ignores NULL keys,
`relationships` ignores NULL children.
"""

from __future__ import annotations

import datetime as dt
from collections.abc import Callable
from dataclasses import dataclass, field
from functools import partial

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from kwwhat_spark.threads import run_all


@dataclass(frozen=True)
class Check:
    model: str
    kind: str  # not_null | unique | accepted_values | unique_combination |
    #            expression | accepted_range | relationships
    column: str | None = None
    params: dict = field(default_factory=dict)
    severity: str = "error"  # or "warn"

    @property
    def name(self) -> str:
        col = f".{self.column}" if self.column else ""
        return f"{self.model}{col}:{self.kind}"


@dataclass(frozen=True)
class Violation:
    check: Check
    failing_rows: int


def _sql_literal(v) -> str:
    if isinstance(v, bool):
        return "true" if v else "false"
    if isinstance(v, (int, float)):
        return str(v)
    return "'" + str(v).replace("'", "''") + "'"


def _violation_expr(check: Check) -> str:
    """SQL predicate that is TRUE for a failing row (NULL ⇒ not failing,
    matching dbt's `where <violation>` row selection)."""
    col, p = check.column, check.params
    if check.kind == "not_null":
        return f"{col} is null"
    if check.kind == "accepted_values":
        vals = ", ".join(_sql_literal(v) for v in p["values"])
        return f"{col} is not null and {col} not in ({vals})"
    if check.kind == "expression":
        return f"not({p['expression']})"
    if check.kind == "accepted_range":
        inclusive = p.get("inclusive", True)
        parts = []
        if "min_value" in p:
            op = "<" if inclusive else "<="
            parts.append(f"{col} {op} {_sql_literal(p['min_value'])}")
        if "max_value" in p:
            op = ">" if inclusive else ">="
            parts.append(f"{col} {op} {_sql_literal(p['max_value'])}")
        return " or ".join(parts) or "false"
    raise ValueError(f"not a row-predicate check: {check.kind}")


def run_checks(
    resolve: Callable[[str], DataFrame], checks: list[Check]
) -> list[Violation]:
    """Run every check; return only those with failing rows, in the
    order the checks are listed within each model (a model's fused
    predicate pass first).

    Every model and relationship parent is resolved first, in the
    caller's thread, so a resolver that builds models builds them
    there. The check queries share nothing and run concurrently, one
    thread each."""
    by_model: dict[str, list[Check]] = {}
    for c in checks:
        by_model.setdefault(c.model, []).append(c)

    frames: dict[str, DataFrame] = {}
    for model, model_checks in by_model.items():
        for name in [model] + [c.params["to"] for c in model_checks
                               if c.kind == "relationships"]:
            if name not in frames:
                frames[name] = resolve(name)

    queries: list[Callable[[], list[Violation]]] = []
    for model, model_checks in by_model.items():
        df = frames[model]
        predicate = [
            c
            for c in model_checks
            if c.kind in ("not_null", "accepted_values", "expression", "accepted_range")
        ]
        if predicate:
            queries.append(partial(_predicate_violations, df, predicate))
        for c in model_checks:
            if c.kind in ("unique", "unique_combination", "relationships"):
                parent = frames[c.params["to"]] if c.kind == "relationships" else None
                queries.append(partial(_row_violations, df, c, parent))
    return [v for found in run_all(queries) for v in found]


def _predicate_violations(df: DataFrame, predicate: list[Check]) -> list[Violation]:
    """Every row-predicate check of one model in one aggregation pass."""
    aggs = [
        F.sum(
            F.when(F.expr(_violation_expr(c)), F.lit(1)).otherwise(F.lit(0))
        ).alias(f"c{i}")
        for i, c in enumerate(predicate)
    ]
    row = df.agg(*aggs).first()
    return [Violation(c, int(row[f"c{i}"])) for i, c in enumerate(predicate)
            if row[f"c{i}"]]


def _row_violations(df: DataFrame, c: Check, parent: DataFrame | None) -> list[Violation]:
    """One uniqueness or referential check: its count of bad keys."""
    if c.kind == "unique":
        n = (
            df.filter(F.col(c.column).isNotNull())
            .groupBy(c.column)
            .count()
            .filter(F.col("count") > 1)
            .count()
        )
    elif c.kind == "unique_combination":
        cols = c.params["combination_of_columns"]
        n = df.groupBy(*cols).count().filter(F.col("count") > 1).count()
    else:
        parent_keys = parent.select(F.col(c.params["field"]).alias("__parent_key"))
        n = (
            df.filter(F.col(c.column).isNotNull())
            .select(F.col(c.column).alias("__child_key"))
            .join(
                F.broadcast(parent_keys.distinct()),
                F.col("__child_key") == F.col("__parent_key"),
                "left_anti",
            )
            .count()
        )
    return [Violation(c, int(n))] if n else []


def load_checks_yaml(path: str | None = None) -> list[Check]:
    """Load the engine's declared schema-test contract
    (kwwhat_spark/checks.yml by default) into Check objects."""
    import os

    import yaml

    if path is None:
        path = os.path.join(os.path.dirname(__file__), "checks.yml")
    with open(path) as f:
        doc = yaml.safe_load(f)
    checks: list[Check] = []
    for m in doc.get("models", []):
        for c in m.get("checks", []):
            checks.append(
                Check(
                    model=m["model"],
                    kind=c["kind"],
                    column=c.get("column"),
                    params=c.get("params", {}),
                    severity=c.get("severity", "error"),
                )
            )
    return checks


def freshness_status(
    df: DataFrame,
    ts_col: str,
    warn_after: dt.timedelta,
    error_after: dt.timedelta,
    now: dt.datetime | None = None,
) -> str:
    """Source freshness (staging.yml:14-18: warn 2h / error 3h on
    ocpp_logs.timestamp). Returns 'pass' | 'warn' | 'error'."""
    now = now or dt.datetime.now(dt.timezone.utc).replace(tzinfo=None)
    latest = df.agg(F.max(F.col(ts_col)).alias("m")).first()["m"]
    if latest is None or now - latest > error_after:
        return "error"
    if now - latest > warn_after:
        return "warn"
    return "pass"
