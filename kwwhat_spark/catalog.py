"""Spark-catalog registration of the analytics layer (SURVEY §3.3).

The reference exposes only `fact_*`/`dim_*` to its chat-BI agent
(demo/chat-bi/nao_config.yaml, RULES.md:7-9). `register_marts` mirrors
that contract: every mart becomes a queryable view so any SQL client
(or NL→SQL agent) can sit on `spark.sql(...)` — the engine-side
equivalent of the analytics.duckdb handoff.
"""

from __future__ import annotations

from kwwhat_spark.models.base import MODELS, Pipeline

MART_PREFIXES = ("fact_", "dim_")


def mart_names() -> list[str]:
    return [m for m in MODELS if m.startswith(MART_PREFIXES)]


def register_marts(pipe: Pipeline, prefix: str = "") -> list[str]:
    """Resolve every mart and register it as a temp view
    (`<prefix><name>`). Returns the registered view names."""
    names = []
    for name in mart_names():
        pipe.ref(name).createOrReplaceTempView(f"{prefix}{name}")
        names.append(f"{prefix}{name}")
    return names

